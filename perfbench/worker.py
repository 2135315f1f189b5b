"""One workload in one fresh process: set up, run the timed closed loop,
check every output, and print the report. Started by run.py, which sets
the environment (PYTHONPATH, local dirs, driver memory) before the JVM
starts."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing as T  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3
# stop starting new timed calls after this long, so the process ends
# well before run.py's time limit
LOOP_BUDGET_S = 110


class Run:
    def __init__(self, args):
        self.args = args
        self.t_begin = time.monotonic()
        self.cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
        self.wl = WORKLOADS[args.workload](args.seed, args.cache_dir)
        self.tracer = T.Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.bc = None
        self._n_out = 0
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.phases: dict[str, float] = {"check": 0.0}
        self.call_times: list[float] = []

    def out_dir(self) -> str:
        self._n_out += 1
        return os.path.join(self.args.run_dir, f"out{self._n_out}")

    def setup_once(self) -> dict:
        """Session start (the JVM launch on the first set-up; getOrCreate
        after that), model build and broadcast, and the warm-up pass."""
        from dataquality_cli_spark.functions.models import get_models
        from dataquality_cli_spark.functions.udfs import broadcast_models
        from dataquality_cli_spark.session import get_spark

        tr = self.tracer
        with tr.span("session.start", leaf=True) as s_start:
            self.spark = get_spark(master=f"local[{self.cores}]",
                                   shuffle_partitions=self.cores)
        tr.sc = self.spark.sparkContext
        with tr.span("session.models", leaf=True) as s_models:
            get_models.cache_clear()
            self.bc = broadcast_models(self.spark)
        out = self.out_dir()
        with tr.span("session.warmup", leaf=True) as s_warm:
            self.wl.warmup(self.spark, self.bc, out)
        shutil.rmtree(out, ignore_errors=True)
        return {"start": s_start.dur, "models": s_models.dur, "warmup": s_warm.dur,
                "total": s_start.dur + s_models.dur + s_warm.dur}

    def timed_call(self, stores=None, keep_output=False):
        """One call of the entry point and the checks of its output.
        Returns (seconds, info or None, sampler, output dir)."""
        out = self.out_dir()
        info, ok = None, True
        with T.Sampler(stores) as sampler:
            t0 = time.perf_counter()
            try:
                info = self.wl.call(self.spark, self.bc, out, self.tracer)
            except Exception:
                ok = False
                self.failures.append("call failed: " + traceback.format_exc(limit=3))
            dt = time.perf_counter() - t0
        if ok:
            t0 = time.monotonic()
            try:
                fails = self.wl.check(self.spark, out, info)
            except Exception:
                fails = ["check failed: " + traceback.format_exc(limit=3)]
            self.phases["check"] += time.monotonic() - t0
            self.failures += fails
            ok = not fails
        self.attempted += 1
        self.failed += not ok
        if not keep_output:
            shutil.rmtree(out, ignore_errors=True)
        return dt, info, sampler, out

    def run(self) -> dict:
        t0 = time.monotonic()
        self.wl.prepare()
        self.phases["prepare"] = time.monotonic() - t0
        t0 = time.monotonic()
        setups = [self.setup_once() for _ in range(SETUP_REPS)]
        self.phases["setup"] = time.monotonic() - t0
        infos, rss = [], []
        t0 = time.monotonic()
        # a traced run reports no end-to-end metric, so it makes one call
        # here, to warm the JVM for the two calls it compares
        n_calls = 1 if self.args.trace else self.wl.n_calls(self.args.seconds)
        for _ in range(n_calls):
            dt, info, sampler, _ = self.timed_call()
            self.call_times.append(dt)
            rss.append(sampler.peak_rss)
            if info is not None:
                infos.append(info)
            if self.failed or time.monotonic() - self.t_begin > LOOP_BUDGET_S:
                break
        self.phases["loop"] = time.monotonic() - t0
        run_s = statistics.median(self.call_times)
        n = len(self.call_times)
        e2e = {
            "setup_s": (statistics.median(s["total"] for s in setups), "s", SETUP_REPS),
            "run_s": (run_s, "s", n),
            "files_per_s": (self.wl.n_files / run_s, "1/s", n),
            "peak_rss_mb": (max(rss) / 2 ** 20, "MB", n),
        }
        if infos:
            e2e.update(self.wl.extra_metrics(infos))
        e2e["failed_ratio"] = (self.failed / self.attempted, "1", self.attempted)
        report = {"e2e": e2e, "setups": setups}
        if self.args.trace:
            report["layers"] = self.traced(setups)
        return report

    def traced(self, setups) -> dict:
        """One more call with tracing on: spans set the job group, and the
        Spark stores are read afterwards for what that call ran."""
        # the loop's call may be the JVM's first run of some plans;
        # compare the traced call with a warmer untraced one
        untraced_s, _, _, _ = self.timed_call()
        stores = T.Stores(self.spark)
        marks = stores.marks()
        self.tracer.enabled = True
        first_span = len(self.tracer.spans)
        dt, info, sampler, out = self.timed_call(stores, keep_output=True)
        self.tracer.enabled = False
        spans = self.tracer.spans[first_span:]
        snap = stores.read(marks)
        layers = {}
        if info is not None:
            info["cached_peak"] = sampler.peak_cached
            layers.update(self.wl.ledger(self.spark, snap, spans, out, info))
        shutil.rmtree(out, ignore_errors=True)
        layers.update(T.engine_metrics(snap, dt, self.cores, sampler.peak_cached))
        med = lambda k: statistics.median(s[k] for s in setups)  # noqa: E731
        layers["session.start_s"] = med("start")
        layers["session.models_s"] = med("models")
        layers["session.warmup_s"] = med("warmup")
        layers["session.cold_setup_s"] = setups[0]["total"]
        # what no layer claims: time outside every stage and leaf span
        call_start = min(s.start for s in spans)
        claimed = [(max(a, call_start), b) for a, b in
                   [T.stage_interval(s) for s in snap["stages"]]
                   + [(s.start, s.end) for s in spans if s.leaf]]
        layers["trace.unattributed_share"] = max(0.0, 1.0 - T.union_s(claimed) / dt)
        layers["trace.overhead_s"] = dt - untraced_s
        self.spans = spans
        self.executions = [{"id": e["id"], "jobs": e["jobs"], "writes": T.write_targets(e),
                            "nodes": [n["name"] for n in e["nodes"]]}
                           for e in snap["executions"]]
        return layers


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--cache-dir", required=True)
    args = ap.parse_args()

    with open(os.path.join(args.root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    r = Run(args)
    try:
        report = r.run()
    finally:
        t0 = time.monotonic()
        if r.spark is not None:
            r.spark.stop()
        r.phases["stop"] = time.monotonic() - t0

    print(f"workload {args.workload}  seed {args.seed}  local[{r.cores}]  "
          f"closed loop, one client  entry {r.wl.entry}")
    for name, (value, unit, n) in report["e2e"].items():
        print(f"  {name:32s} {value:14.4f} {unit:6s} (n={n})")
    print("  set-ups (s, start/models/warm-up): " + "  ".join(
        "/".join(f"{s[k]:.2f}" for k in ("start", "models", "warmup")) for s in report["setups"]))
    print("  calls (s): " + "  ".join(f"{t:.2f}" for t in r.call_times))
    print("  phases (s): " + "  ".join(f"{k} {v:.1f}" for k, v in r.phases.items())
          + f"  total {time.monotonic() - r.t_begin:.1f}")
    for msg in r.failures:
        print(f"  CHECK FAILED: {msg}")
    if args.trace:
        wanted = spec["per_layer"]
        layers = report["layers"]
        for m in wanted:
            print(f"  {m['name']:32s} {float(layers.get(m['name'], 0.0)):14.4f} {m['unit']}")
        # layers of workloads BENCHMARK.json does not list (stream.*,
        # pipeline.manifest_s) are printed too, without a unit
        named = {m["name"] for m in wanted}
        for k in sorted(set(layers) - named):
            print(f"  {k:32s} {float(layers[k]):14.4f}")
        ledger = os.path.join(os.path.dirname(args.cache_dir),
                              f"ledger-{args.workload}-s{args.seed}.json")
        with open(ledger, "w") as f:
            json.dump({"layers": layers, "spans": [s.__dict__ for s in r.spans],
                       "executions": r.executions}, f, indent=1)
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
    else:
        metrics = {m["name"]: {"value": report["e2e"][m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0 if r.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
