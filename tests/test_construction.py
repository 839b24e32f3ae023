"""Package code turns driver data into frames only through
``core/construction.py`` (``local_df``), which keeps the rows in the plan
as a LocalRelation. A list-built ``createDataFrame`` elsewhere would
parallelize a pickled Python RDD and run a Python-worker job per action.
Spark-free: a source scan."""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "bioframe_spark"


def test_create_dataframe_only_in_construction():
    hits = [
        f"{path.relative_to(PKG)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path.relative_to(PKG).as_posix() != "core/construction.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"createDataFrame\(", line)
    ]
    assert not hits, f"createDataFrame( outside core/construction.py: {hits}"
