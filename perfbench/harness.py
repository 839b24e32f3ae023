"""The benchmark run: set-up, output check, timed passes, metrics.

Imported by run.py once the checkout's root is on ``sys.path``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import oracle
import workloads
from bench import force_count
from bioframe_spark.session import get_spark
from calls import CALLS
from spark_trace import Tracer

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_out")
# mean seconds of an untraced timed pass over a run, either workload, on
# a 4-core machine; --seconds over it sets the number of passes
PASS_S = 4.2

PER_CALL = ("build_ms", "eager_jobs", "plan_ms", "exec_ms", "tasks",
            "executor_cpu_ms", "executor_wait_ms", "gc_ms", "shuffle_bytes",
            "spill_bytes")
UNITS = {"eager_jobs": "count", "tasks": "count", "shuffle_bytes": "bytes",
         "spill_bytes": "bytes"}
T0 = time.perf_counter()


def log(*a):
    print(f"# {time.perf_counter() - T0:6.1f}s", *a, file=sys.stderr,
          flush=True)


def _rss_peak_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pass_s(samples, mode: str) -> float:
    """One pass as the sum, over the calls, of each call's median time in
    ``mode``."""
    per = {}
    for call, m, s, _ in samples:
        if m == mode and s is not None:
            per.setdefault(call.name, []).append(s)
    return sum(statistics.median(v) for v in per.values())


class Runner:
    def __init__(self, args, cores, work):
        self.args, self.cores, self.work = args, cores, work
        self.make_plan = workloads.WORKLOADS[args.workload]
        self.data = os.path.join(work, f"{args.workload}-{args.seed}")
        self.spark = None
        self.attempted = self.failed = 0
        self.errors = []
        self.entries_left = []
        self.expected_rows = {}

    # -- set-up -----------------------------------------------------------

    def setup(self) -> dict:
        """One set-up as a user waits for it: session start (JVM launch
        included), input generation, pinning (the JVM's first jobs)."""
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.plan = self.make_plan(self.args.seed, self.data)
        t2 = time.perf_counter()
        self.pin()
        t3 = time.perf_counter()
        log(f"setup: session {t1 - t0:.2f}s generate {t2 - t1:.2f}s "
            f"pin {t3 - t2:.2f}s")
        return {"total": t3 - t0, "session": t1 - t0, "generate": t2 - t1,
                "pin": t3 - t2}

    def pin(self):
        self.pinned = {}
        for v in self.plan.pinned:
            df = self.spark.read.parquet(self.plan.shared[v]).cache()
            df.count()
            self.pinned[v] = df

    def cached_left(self) -> int:
        """Cached RDDs beyond the pinned inputs."""
        return (self.spark.sparkContext._jsc.getPersistentRDDs().size()
                - len(self.pinned))

    def after_call(self, name: str):
        """Record internal persists still alive after a call; if any, reset
        the cache, so no later call times a cache hit."""
        left = self.cached_left()
        self.entries_left.append(left)
        if left > 0:
            log(f"{name} left {left} cached entries; clearing and re-pinning")
            self.reset_cache()

    def reset_cache(self):
        """Drop every cached frame and RDD, then re-pin the inputs (outside
        the timer, as bench.py does)."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs()
                        .values()):
            rdd.unpersist(True)
        for df in self.pinned.values():
            df.cache().count()

    # -- calls ------------------------------------------------------------

    def frames(self, call) -> dict:
        """The Spark frames ``call`` reads: pinned unless the call has its
        own input for the view."""
        own = self.plan.inputs[CALLS.index(call)]
        return {v: self.spark.read.parquet(own[v]) if v in own
                else self.pinned[v] for v in call.tables}

    def check(self):
        """One untimed round: every call's full output against DuckDB. The
        calls run concurrently, on as many threads as cores, which
        overlaps their one-off costs (class loading, code generation) with
        each other and with the DuckDB checks. The cache is reset at the
        end if a call left entries in it, and a full GC starts the timed
        calls on an empty heap."""
        def checked(call, own):
            got = call.build(self.frames(call)).toArrow()
            self.expected_rows[call.name] = got.num_rows
            paths = {**self.plan.shared, **own}
            return oracle.check(call.oracle,
                                {v: paths[v] for v in call.tables}, got)

        with ThreadPoolExecutor(max_workers=self.cores) as pool:
            checks = [(call, pool.submit(checked, call, own))
                      for call, own in zip(CALLS, self.plan.inputs)]
            for call, fut in checks:
                self.attempted += 1
                try:
                    why = fut.result()
                except Exception as e:  # a failing call is a counted result
                    self.fail(call.name, e)
                    continue
                log(f"check {call.name}: {why or 'ok'} "
                    f"({self.expected_rows[call.name]} rows)")
                if why:
                    self.failed += 1
                    self.errors.append(f"{call.name}: {why}")
        if self.cached_left() > 0:
            self.reset_cache()
        self.spark._jvm.System.gc()

    def fail(self, name: str, e: Exception):
        self.failed += 1
        self.errors.append(f"{name}: raised {type(e).__name__}: "
                           f"{str(e)[:300]}")

    def timed_call(self, call, tag: str, tracer) -> tuple:
        """One timed call. Returns (secs, span); both None for a call that
        failed."""
        self.attempted += 1
        try:
            frames = self.frames(call)
            if tracer is None:
                t0 = time.perf_counter()
                n = force_count(call.build(frames))
                secs, span = time.perf_counter() - t0, None
            else:
                group = f"bench:{self.args.workload}:{call.name}:{tag}"
                n, secs, span = tracer.call(
                    group, lambda: call.build(frames), force_count)
            # every timed call repeats a checked call
            if n != self.expected_rows.get(call.name):
                raise ValueError(f"{n} rows, checked call had "
                                 f"{self.expected_rows.get(call.name)}")
            return secs, span
        except Exception as e:  # a failing call is a counted result
            self.fail(call.name, e)
            return None, None
        finally:
            self.after_call(call.name)

    def measure(self, tracer) -> list:
        """A closed loop of passes over the calls, one call at a time.
        Every run makes the same number of passes, --seconds over PASS_S
        (twice that traced, as a traced pass runs every call twice), so
        every run times the same work: the first passes after a fresh JVM
        start run up to twice as slow while the JIT compiles, and a pass
        count that followed the host's speed would move the medians along
        that curve. A run that
        reaches 3 x --seconds stops after the pass under way. Traced:
        each call runs traced and plain back to back, traced first on
        even passes and plain first on odd ones, so the two differ only
        by the tracing. Returns [(call, mode, secs, span)]."""
        modes = ("traced", "plain") if tracer else ("plain",)
        passes = max(2, round(self.args.seconds / (PASS_S * len(modes))))
        out = []
        start = time.perf_counter()
        for p in range(passes):
            t0 = time.perf_counter()
            for call in CALLS:
                for mode in modes if p % 2 == 0 else modes[::-1]:
                    secs, span = self.timed_call(
                        call, str(p), tracer if mode == "traced" else None)
                    out.append((call, mode, secs, span))
            log(f"pass {p}: {time.perf_counter() - t0:.2f}s, JIT compile "
                f"{self.jvm.getCompilationMXBean().getTotalCompilationTime()}"
                " ms so far")
            if time.perf_counter() - start >= 3 * self.args.seconds:
                break
        return out

    # -- run --------------------------------------------------------------

    def run(self) -> tuple:
        """Returns (run record for the info line, {metric: (value, unit)})."""
        setup = self.setup()
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        self.jvm = self.spark._jvm.java.lang.management.ManagementFactory
        self.check()
        tracer = Tracer(self.spark) if self.args.trace else None
        calls = self.measure(tracer)
        rss = _rss_peak_mb([os.getpid(), jvm_pid])
        conf = self.spark.conf
        plain = [s for _, m, s, _ in calls if m == "plain" and s is not None]
        info = {"workload": self.args.workload, "seed": self.args.seed,
                "config": {
                    "spark_version": self.spark.version,
                    "cores": self.cores,
                    "master": self.spark.sparkContext.master,
                    "aqe": conf.get("spark.sql.adaptive.enabled"),
                    "shuffle_partitions": conf.get(
                        "spark.sql.shuffle.partitions")},
                "inputs": self.plan.props,
                "timed_calls": len(calls),
                # a run times too few calls for a percentile above the
                # median to have ten samples beyond it
                "call_p50_s": _median(plain),
                "call_samples": len(plain),
                "failed_frac": self.failed / self.attempted,
                "errors": self.errors[:20]}
        if self.args.trace:
            metrics = self.layer_metrics(setup, calls, info)
            # peak RSS moves by more than a tenth between runs of the
            # same code, so it is a layer metric, not an end-to-end one
            metrics["driver.peak_rss_mb"] = (rss, "MB")
        else:
            metrics = {"setup_s": (setup["total"], "s")}
            # a call that failed has no time to add, so a run with a
            # failure reports no pass time rather than a short one
            if not self.failed:
                metrics["pass_s"] = (_pass_s(calls, "plain"), "s")
        self.write_spans(info, calls)
        return info, metrics

    def layer_metrics(self, setup, calls, info) -> dict:
        """Per function: the median plain call and the median traced span."""
        m, share = {}, {}
        for call in CALLS:
            plain = [s for c, mode, s, _ in calls
                     if c is call and mode == "plain" and s is not None]
            spans = [sp for c, *_, sp in calls if c is call and sp]
            m[f"{call.name}.call_ms"] = (_median(plain) * 1e3, "ms")
            for k in PER_CALL:
                m[f"{call.name}.{k}"] = (_median([sp[k] for sp in spans]),
                                         UNITS.get(k, "ms"))
            if spans:
                share[call.name] = round(_median(
                    [sp["executor_cpu_ms"]
                     / ((sp["end"] - sp["start"]) * 1e3 * self.cores)
                     for sp in spans]), 4)
        spans = [sp for *_, sp in calls if sp]
        cpu = sum(sp["executor_cpu_ms"] for sp in spans)
        wall = sum(sp["end"] - sp["start"] for sp in spans) * 1e3
        # executor CPU as a share of (call wall x cores), per function
        info["cpu_share"] = share
        m["cache.entries_left"] = (max(self.entries_left, default=0), "count")
        m["setup.session_ms"] = (setup["session"] * 1e3, "ms")
        m["setup.generate_ms"] = (setup["generate"] * 1e3, "ms")
        m["setup.pin_ms"] = (setup["pin"] * 1e3, "ms")
        # traced minus untraced pass_s over the same calls, run in pairs
        m["trace.overhead_ms"] = ((_pass_s(calls, "traced")
                                   - _pass_s(calls, "plain")) * 1e3, "ms")
        m["trace.cpu_share"] = (cpu / (wall * self.cores) if wall else 0.0,
                                "frac")
        return m

    def write_spans(self, info, calls):
        os.makedirs(OUT, exist_ok=True)
        name = (f"{self.args.workload}-seed{self.args.seed}"
                f"-trace{self.args.trace}.json")
        with open(os.path.join(OUT, name), "w") as f:
            json.dump({**info, "spans": [sp for *_, sp in calls if sp],
                       "calls": [[c.name, m, s]
                                 for c, m, s, _ in calls]}, f)

    def close(self):
        """Stop Spark, then the gateway JVM, and wait for it to exit."""
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)
