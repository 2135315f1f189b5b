"""The benchmark workloads. Each is driven as a closed loop: one client
(this process) calls one public entry point of the package, waits for it,
checks its output, and calls again.

A workload provides its inputs (``prepare``), an untimed warm-up pass
(``warmup``), the timed call (``call``), the output checks (``check``)
and the per-layer ledger of a traced call (``ledger``).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics

import pyarrow.dataset as ds
import pyarrow.parquet as pq

import inputs
import tracing as T


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


def _read(path: str, columns=None):
    """A parquet directory (hive-partitioned) as a pyarrow table, read
    without Spark."""
    return ds.dataset(path, format="parquet", partitioning="hive",
                      exclude_invalid_files=True).to_table(columns=columns)


def _remember(path: str, key: str, value):
    """First value stored under ``key`` for this cache entry; later runs
    must reproduce it."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    known = json.load(open(path)) if os.path.exists(path) else {}
    if key not in known:
        known[key] = value
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(known, f)
        os.replace(tmp, path)
    return known[key]


def percentile(values, q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    if not v:
        return 0.0
    k = max(0, min(len(v) - 1, int(round(q * len(v) + 0.5)) - 1))
    return v[k]


def _udf_ledger(execs) -> dict:
    """The fused scoring UDF, read from its ArrowEvalPython nodes."""
    py = T.python_node_metrics(execs)
    return {
        "udfs.rows": py["rows"],
        "udfs.python_boot_s": py["boot_s"],
        "udfs.python_init_s": py["init_s"],
        "udfs.python_exec_s": py["exec_s"],
        "udfs.exec_us_per_file": py["exec_s"] * 1e6 / py["rows"] if py["rows"] else 0.0,
        "udfs.bytes_to_python": py["sent"],
        "udfs.bytes_from_python": py["received"],
    }


def _sink_ledger(snap) -> dict:
    """Parquet writes: bytes and files from the write commands, task time
    from the stages that wrote output."""
    wbytes, wfiles = T.written(snap["executions"])
    writing = [s for s in snap["stages"] if s["outputBytes"] > 0]
    return {
        "sink.bytes_written": wbytes,
        "sink.files_written": wfiles,
        "sink.write_task_s": sum(s["executorRunTime"] for s in writing) / 1000.0,
    }


def _input_scans(execs, input_dir: str) -> int:
    return sum(1 for e in execs for loc in T.scan_locations(e) if input_dir in loc)


def _content_bytes(path: str) -> int:
    table = pq.read_table(path, columns=["content"])
    return sum(len(c.as_py().encode()) for c in table.column("content"))


class Workload:
    name = ""
    entry = ""  # the public entry point the timed call drives
    # A run makes a fixed number of timed calls: ``--seconds`` over
    # ``call_s``, the share of ``--seconds`` one call is budgeted at,
    # rounded, and ``min_calls`` at the least. The count does not depend
    # on how fast the host is at the time, so every run leaves the JVM
    # equally warm when it reports the median call.
    min_calls = 2
    call_s = 1.0

    def n_calls(self, seconds: float) -> int:
        return max(self.min_calls, round(seconds / self.call_s))

    def __init__(self, seed: int, cache_dir: str):
        self.seed = seed
        self.cache_dir = cache_dir
        self.input_dir = ""
        self.n_files = 0
        self.input_bytes = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def _memo_path(self) -> str:
        return self.input_dir + ".expected.json"

    def warmup(self, spark, bc, out_dir: str) -> None:
        """One small pass through the fused scoring UDF and a parquet write:
        it boots the Python workers without the cost of a whole call."""
        from dataquality_cli_spark.plans.pipeline import VERDICT_COLS, run_pipeline

        d = inputs.cached(self.cache_dir, "warmup", 0, "64",
                          lambda d: inputs.filter_input(d, 64, 0))
        df = spark.read.parquet(d)
        run_pipeline(spark, df, bc=bc).select(*VERDICT_COLS).write.parquet(out_dir)

    def call(self, spark, bc, out_dir: str, tracer: T.Tracer) -> dict:
        """The timed call; returns what the checks and the ledger need."""
        raise NotImplementedError

    def check(self, spark, out_dir: str, info: dict) -> list[str]:
        """Failed output checks, as messages."""
        raise NotImplementedError

    def extra_metrics(self, infos: list[dict]) -> dict:
        """Workload-specific end-to-end figures: name -> (value, unit, n)."""
        wb = statistics.median(i["written_bytes"] for i in infos)
        return {"written_bytes_per_input_byte": (wb / self.input_bytes, "B/B", len(infos))}

    def ledger(self, spark, snap: dict, spans: list, out_dir: str, info: dict) -> dict:
        """Per-layer metrics of one traced call."""
        raise NotImplementedError


# ---------------------------------------------------------------------------

class FilterFiles(Workload):
    name = "filter_files"
    entry = "plans.pipeline.run_with_checkpoint"
    min_calls = 1
    call_s = 30.0
    N_FILES = 1000
    N_PARTS = 16

    def prepare(self):
        n, seed = self.N_FILES, self.seed
        self.input_dir = inputs.cached(self.cache_dir, self.name, seed, str(n),
                                       lambda d: inputs.filter_input(d, n, seed))
        self.n_files = n
        self.input_bytes = _content_bytes(self.input_dir)

    def call(self, spark, bc, out_dir, tracer):
        from dataquality_cli_spark.plans.pipeline import run_with_checkpoint

        df = spark.read.parquet(self.input_dir)
        with tracer.span(self.entry):
            run_with_checkpoint(spark, df, out_dir, n_parts=self.N_PARTS, bc=bc)
        return {"written_bytes": _dir_bytes(out_dir)}

    def _oracle(self) -> dict:
        path = self.input_dir + ".oracle.json"
        if os.path.exists(path):
            return json.load(open(path))
        from types import SimpleNamespace

        from dataquality_cli_spark import oracle

        rows = pq.read_table(os.path.join(self.input_dir, "corpus.parquet")).to_pylist()
        verdicts = oracle.judge_corpus([SimpleNamespace(**r) for r in rows])
        labels = {f"{r['repo']}\t{r['path']}\t{r['commit']}": v.keep
                  for r, v in zip(rows, verdicts)}
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(labels, f)
        os.replace(tmp, path)
        return labels

    def check(self, spark, out_dir, info):
        fails = []
        v = _read(os.path.join(out_dir, "data"),
                  ["repo", "path", "commit", "keep", "drop_reason", "total_scrub_hits",
                   "content_sha256", "scrubbed_sha256"]).to_pylist()
        if len(v) != self.n_files:
            fails.append(f"verdict rows {len(v)} != input files {self.n_files}")
        # keep/drop F1 against the single-process oracle
        labels = self._oracle()
        tp = fp = fn = 0
        for r in v:
            want = labels.get(f"{r['repo']}\t{r['path']}\t{r['commit']}")
            tp += bool(r["keep"] and want)
            fp += bool(r["keep"] and not want)
            fn += bool(not r["keep"] and want)
        f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
        if f1 < 0.99:
            fails.append(f"keep/drop F1 vs oracle {f1:.4f} < 0.99")
        # sha256 invariant: a kept file the scrub did not touch is unmodified
        src = {(r["repo"], r["path"], r["commit"]): r["content"] for r in
               pq.read_table(os.path.join(self.input_dir, "corpus.parquet")).to_pylist()}
        for r in v:
            if r["keep"] and r["total_scrub_hits"] == 0:
                want = hashlib.sha256(src[(r["repo"], r["path"], r["commit"])]
                                      .encode("utf-8", "replace")).hexdigest()
                if not (r["content_sha256"] == r["scrubbed_sha256"] == want):
                    fails.append(f"sha256 invariant broken for {r['repo']}/{r['path']}")
                    break
        # manifest: one row group per part, summing to the input
        m = _read(os.path.join(out_dir, "_manifest"), ["part_id", "n"]).to_pylist()
        parts = {r["part_id"] for r in m}
        if parts != set(range(self.N_PARTS)):
            fails.append(f"manifest covers parts {sorted(parts)}, want 0..{self.N_PARTS - 1}")
        if sum(r["n"] for r in m) != self.n_files:
            fails.append(f"manifest counts sum to {sum(r['n'] for r in m)}, want {self.n_files}")
        digest = _digest((r["repo"], r["path"], r["commit"], r["keep"], r["drop_reason"],
                          r["scrubbed_sha256"]) for r in v)
        if _remember(self._memo_path(), "verdict_digest", digest) != digest:
            fails.append("verdict digest differs from an earlier run on this seed")
        return fails

    def ledger(self, spark, snap, spans, out_dir, info):
        execs = snap["executions"]
        manifest = [e for e in execs
                    if any("_manifest" in p for p in T.write_targets(e) + T.scan_locations(e))]
        stages = snap["stages"]
        return {
            **_udf_ledger(execs),
            "pipeline.input_scans": _input_scans(execs, self.input_dir),
            "pipeline.shuffle_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "pipeline.partition_skew": T.skew(stages),
            "pipeline.manifest_s": sum(e["end"] - e["start"] for e in manifest),
            "pipeline.self_s": T.union_s(T.stage_interval(s) for s in stages),
            **_sink_ledger(snap),
        }


# ---------------------------------------------------------------------------

class DescribeCsv(Workload):
    name = "describe_csv"
    entry = "sources.csvdir.describe_dir"
    call_s = 7.0
    N_FILES = 4
    N_ROWS = 40000
    WARMUP_ROWS = 10000
    CHECK_FILES = 4

    def prepare(self):
        n, r, seed = self.N_FILES, self.N_ROWS, self.seed
        self.input_dir = inputs.cached(self.cache_dir, self.name, seed, f"{n}x{r}",
                                       lambda d: inputs.describe_input(d, n, r, seed))
        self.n_files = n
        self.n_rows = n * r
        self.input_bytes = _dir_bytes(self.input_dir)
        self._pandas_stats: dict[str, dict] = {}

    def warmup(self, spark, bc, out_dir):
        """Both modes over a quarter of the input's rows, in files of the
        same shape: it compiles every plan a call runs and gets the JIT
        through the CSV parser and the aggregations, at a fraction of a
        call's cost. What JIT work the full input still needs falls on
        the first timed call, which the run's median passes over."""
        from dataquality_cli_spark.sources.csvdir import describe_dir

        n, r = self.N_FILES, self.WARMUP_ROWS
        d = inputs.cached(self.cache_dir, "describe_warmup", 0, f"{n}x{r}",
                          lambda d: inputs.describe_input(d, n, r, 0))
        for approx in (False, True):
            for _cols, df in describe_dir(spark, d, approx=approx):
                df.collect()

    def call(self, spark, bc, out_dir, tracer):
        from dataquality_cli_spark.sources.csvdir import describe_dir

        out, secs = {}, {}
        with tracer.span(self.entry):
            for mode in ("exact", "approx"):
                with tracer.span(f"csvdir.describe_dir[{mode}]", leaf=True) as s1:
                    groups = describe_dir(spark, self.input_dir, approx=mode == "approx")
                with tracer.span(f"profile.describe_files[{mode}].collect") as s2:
                    out[mode] = [(cols, [r.asDict() for r in df.collect()]) for cols, df in groups]
                secs[mode] = s1.dur + s2.dur
        return {"results": out, "secs": secs}

    def check(self, spark, out_dir, info):
        fails = []
        for mode, groups in info["results"].items():
            if len(groups) != 1 or len(groups[0][1]) != self.N_FILES:
                fails.append(f"{mode}: want one schema group of {self.N_FILES} files")
                return fails
        paths = sorted(glob.glob(os.path.join(self.input_dir, "*.csv")))
        picks = paths[:: max(1, len(paths) // self.CHECK_FILES)][: self.CHECK_FILES]
        for path in picks:
            stats = {mode: next(r for r in info["results"][mode][0][1]
                                if r["_file"].endswith("/" + os.path.basename(path)))
                     for mode in ("exact", "approx")}
            for c, want in self._expected(path).items():
                fails += self._check_column(f"{os.path.basename(path)}:{c}", c, want, stats)
        return fails

    def _expected(self, path) -> dict:
        """Per-column stats of one input file as pandas computes them; a
        function of the input alone, so computed once per run."""
        import numpy as np
        import pandas as pd

        memo = self._pandas_stats
        if path in memo:
            return memo[path]
        pdf = pd.read_csv(path, dtype=str, keep_default_na=False)
        cols = {}
        for c in pdf.columns:
            s = pdf[c]
            nonnull = s[s.str.strip(" \t\r") != ""]
            num = pd.to_numeric(nonnull.where(nonnull.str.match(
                r"^-?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][-+]?[0-9]+)?$")), errors="coerce").dropna()
            want = {"counts": {"row_count": len(s), "nulls": len(s) - len(nonnull),
                               "count": len(nonnull), "n_num": len(num)},
                    "unique": nonnull.nunique(), "numeric": {}, "top": None}
            if len(num):
                vals = num.to_numpy(dtype=float)
                qs = np.percentile(vals, [25, 50, 75])
                want["numeric"] = {"mean": vals.mean(), "std": vals.std(), "min": vals.min(),
                                   "max": vals.max(), "q25": qs[0], "q50": qs[1], "q75": qs[2]}
            top = nonnull.value_counts()
            if len(top):
                want["top"] = min(top.items(), key=lambda kv: (-kv[1], kv[0]))
            cols[c] = want
        memo[path] = cols
        return cols

    @staticmethod
    def _check_column(name, c, want, stats) -> list[str]:
        fails = []
        ex, ap = stats["exact"], stats["approx"]
        for k, v in want["counts"].items():
            col = "row_count" if k == "row_count" else f"{c}_{k}"
            for mode, st in (("exact", ex), ("approx", ap)):
                if st.get(col) != v:
                    fails.append(f"{mode} {name} {k}={st.get(col)} want {v}")
        uniq = want["unique"]
        if ex[f"{c}_unique"] != uniq:
            fails.append(f"exact {name} unique={ex[f'{c}_unique']} want {uniq}")
        # HLL++ at its default 5 % relative standard deviation. The error is
        # a fixed function of the data, so a 3-sigma bound fails on a few
        # percent of seeds every time they run; 5 sigma does not.
        if abs(ap[f"{c}_unique"] - uniq) > 0.25 * uniq + 1:
            fails.append(f"approx {name} unique={ap[f'{c}_unique']} want {uniq} +-25%")
        for k, v in want["numeric"].items():
            got = ex.get(f"{c}_{k}")
            if got is None or abs(got - v) > 1e-9 * max(1.0, abs(v)):
                fails.append(f"exact {name} {k}={got} want {v}")
        best = want["top"]
        if best is not None and (ex.get(f"{c}_top"), ex.get(f"{c}_top_freq")) != best:
            fails.append(f"exact {name} top={ex.get(f'{c}_top')!r}x{ex.get(f'{c}_top_freq')} "
                         f"want {best[0]!r}x{best[1]}")
        return fails

    def extra_metrics(self, infos):
        ex = statistics.median(i["secs"]["exact"] for i in infos)
        ap = statistics.median(i["secs"]["approx"] for i in infos)
        return {"exact_rows_per_s": (self.n_rows / ex, "1/s", len(infos)),
                "approx_rows_per_s": (self.n_rows / ap, "1/s", len(infos))}

    def ledger(self, spark, snap, spans, out_dir, info):
        # the exact-mode collect is the execution whose jobs ran in its span
        groups = {j["jobId"]: j.get("jobGroup") or "" for j in snap["jobs"]}
        exact_execs = [e for e in snap["executions"]
                       if any(groups.get(j) == "profile.describe_files[exact].collect"
                              for j in e["jobs"])]
        scan = [s for s in snap["stages"] if s["inputBytes"] > 0]
        agg = [s for s in snap["stages"] if s["inputBytes"] == 0 and s["shuffleReadBytes"] > 0]
        ex_stages = T.stages_of(snap, exact_execs)
        scan_rows = T.node_sum(exact_execs, lambda n: n.startswith("Scan csv"),
                               "number of output rows")
        melt_rows = T.node_sum(exact_execs, lambda n: n == "Generate", "number of output rows")
        list_spans = [s for s in spans if s.name.startswith("csvdir.describe_dir")]
        return {
            "csvdir.list_s": sum(s.dur for s in list_spans),
            "csvdir.scan_task_s": sum(s["executorRunTime"] for s in scan) / 1000.0,
            "csvdir.rows": scan_rows,
            "csvdir.self_s": T.union_s([T.stage_interval(s) for s in scan]
                                       + [(s.start, s.end) for s in list_spans]),
            "profile.agg_task_s": sum(s["executorRunTime"] for s in agg) / 1000.0,
            "profile.shuffle_bytes": sum(s["shuffleWriteBytes"] for s in ex_stages),
            "profile.melt_rows_per_row": melt_rows / scan_rows if scan_rows else 0.0,
            "profile.self_s": T.union_s(T.stage_interval(s) for s in agg),
        }


# ---------------------------------------------------------------------------

BUILD_STAGES = ("filtered", "exact", "unique", "kept", "val", "train_packed")


class BuildCorpus(Workload):
    name = "build_corpus"
    entry = "jobs.corpus_build_job.build_corpus_resumable"
    # one call is about 100 Spark jobs; a run makes one, the cold first
    # call a spark-submit of this job would make
    min_calls = 1
    call_s = 30.0
    N_BASE = 250
    PACK_BUDGET = 2048

    def prepare(self):
        n, seed = self.N_BASE, self.seed
        self.input_dir = inputs.cached(self.cache_dir, self.name, seed, str(n),
                                       lambda d: inputs.build_input(d, n, seed))
        self.n_files = pq.read_metadata(os.path.join(self.input_dir, "corpus.parquet")).num_rows
        self.input_bytes = _content_bytes(self.input_dir)

    def call(self, spark, bc, out_dir, tracer):
        from dataquality_cli_spark.jobs.corpus_build_job import build_corpus_resumable

        df = spark.read.parquet(self.input_dir)
        with tracer.span(self.entry):
            metrics = build_corpus_resumable(spark, df, out_dir, bc=bc,
                                             pack_budget=self.PACK_BUDGET)
        return {"funnel": metrics, "written_bytes": _dir_bytes(out_dir)}

    def check(self, spark, out_dir, info):
        fails = []
        f = info["funnel"]
        chain = ["input", "kept_after_filter", "after_exact_dedup",
                 "after_neardup_dedup", "after_decontamination"]
        vals = [f.get(k) for k in chain]
        if None in vals or any(a < b for a, b in zip(vals, vals[1:])):
            fails.append(f"stage funnel not monotone: {dict(zip(chain, vals))}")
        if f.get("val_docs", 0) + f.get("train_docs", 0) != f.get("after_decontamination"):
            fails.append("val_docs + train_docs != after_decontamination")
        if f.get("input") != self.n_files:
            fails.append(f"funnel input {f.get('input')} != {self.n_files}")
        funnel = {k: v for k, v in f.items() if k != "train_packs"}
        if _remember(self._memo_path(), "funnel", funnel) != funnel:
            fails.append("stage funnel differs from an earlier run on this seed")

        kept = _read(os.path.join(out_dir, "kept"), ["doc_id", "scrubbed_sha256"]).to_pylist()
        kept_ids = [r["doc_id"] for r in kept]
        shas = [r["scrubbed_sha256"] for r in kept]
        if len(set(shas)) != len(shas):
            fails.append("two kept docs share a scrubbed_sha256")
        digest = _digest((i,) for i in kept_ids)
        if _remember(self._memo_path(), "kept_digest", digest) != digest:
            fails.append("kept-set digest differs from an earlier run on this seed")
        val = {r["doc_id"] for r in _read(os.path.join(out_dir, "val"), ["doc_id"]).to_pylist()}
        packed = _read(os.path.join(out_dir, "train_packed"),
                       ["doc_id", "n_tokens", "pack_id"]).to_pylist()
        train = [r["doc_id"] for r in packed]
        if len(train) != len(set(train)):
            fails.append("a train doc sits in more than one pack")
        if val & set(train):
            fails.append("train and val overlap")
        if val | set(train) != set(kept_ids):
            fails.append("train + val != kept")
        tokens: dict[str, list[int]] = {}
        for r in packed:
            tokens.setdefault(r["pack_id"], []).append(r["n_tokens"])
        over = [p for p, t in tokens.items() if sum(t) > self.PACK_BUDGET and len(t) > 1]
        if over:
            fails.append(f"{len(over)} multi-doc packs exceed the {self.PACK_BUDGET} budget")
        return fails

    @staticmethod
    def _stage_of(e: dict, out_dir: str) -> str:
        """The chain stage an execution belongs to, by the directory it
        writes, else the stage directory it reads last."""
        prefix = out_dir.rstrip("/") + "/"
        for p in T.write_targets(e) + list(reversed(T.scan_locations(e))):
            p = p.replace("file:", "")
            for part in p.split(","):
                part = part.strip()
                if prefix in part:
                    name = part.split(prefix, 1)[1].split("/")[0]
                    return "manifest" if name.startswith("_") else name
        return "filtered"  # the persisted verdict count reads only the input

    def ledger(self, spark, snap, spans, out_dir, info):
        from dataquality_cli_spark.operators import dedup

        execs = snap["executions"]
        by_stage: dict[str, list] = {}
        for e in execs:
            by_stage.setdefault(self._stage_of(e, out_dir), []).append(e)
        jobs_of = {j["jobId"] for j in snap["jobs"]}
        out = {}
        for st in BUILD_STAGES:
            es = by_stage.get(st, [])
            out[f"build.{st}.wall_s"] = T.union_s((e["start"], e["end"]) for e in es)
            out[f"build.{st}.jobs"] = sum(1 for e in es for j in e["jobs"] if j in jobs_of)
        counting = [e for e in execs if not T.write_targets(e)]
        out["build.count_jobs"] = sum(len(e["jobs"]) for e in counting)
        out["build.manifest_s"] = sum(e["end"] - e["start"] for e in by_stage.get("manifest", []))
        out["build.self_s"] = T.union_s(T.stage_interval(s)
                                        for s in T.stages_of(snap, by_stage.get("manifest", [])))

        filt = by_stage.get("filtered", [])
        filt_stages = T.stages_of(snap, filt)
        out.update(_udf_ledger(filt))
        out.update({
            "pipeline.input_scans": _input_scans(execs, self.input_dir),
            "pipeline.shuffle_bytes": sum(s["shuffleWriteBytes"] for s in filt_stages),
            "pipeline.partition_skew": T.skew(filt_stages),
            "pipeline.self_s": T.union_s(T.stage_interval(s) for s in filt_stages),
        })

        dd = [e for st in ("exact", "unique", "kept") for e in by_stage.get(st, [])]
        dd_stages = T.stages_of(snap, dd)
        dpy = T.python_node_metrics(dd)
        # the pair counts are a separate probe over the exact stage's output
        exact = spark.read.parquet(os.path.join(out_dir, "exact"))
        cand = dedup.lsh_candidate_pairs(exact, "text", dedup.DEFAULT_MAX_BUCKET).count()
        verified = dedup.lsh_verified_pairs(exact, threshold=0.7).count()
        out.update({
            "dedup.task_s": sum(s["executorRunTime"] for s in dd_stages) / 1000.0,
            "dedup.python_init_s": dpy["init_s"],
            "dedup.python_exec_s": dpy["exec_s"],
            "dedup.shuffle_bytes": sum(s["shuffleWriteBytes"] for s in dd_stages),
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": verified,
            "dedup.pair_yield": verified / cand if cand else 0.0,
            "dedup.jobs": sum(len(e["jobs"]) for e in dd),
            "dedup.self_s": T.union_s(T.stage_interval(s) for s in dd_stages),
        })
        sm = [e for st in ("val", "train_packed") for e in by_stage.get(st, [])]
        sm_stages = T.stages_of(snap, sm)
        out.update({
            "sampling.task_s": sum(s["executorRunTime"] for s in sm_stages) / 1000.0,
            "sampling.jobs": sum(len(e["jobs"]) for e in sm),
            "sampling.self_s": T.union_s(T.stage_interval(s) for s in sm_stages),
        })
        out.update(_sink_ledger(snap))
        return out


# ---------------------------------------------------------------------------

class StreamFilter(Workload):
    name = "stream_filter"
    entry = "streaming.stream_pipeline.stream_quality_filter"
    call_s = 5.0
    N_FILES = 8
    ROWS_PER_FILE = 500

    def prepare(self):
        n, r, seed = self.N_FILES, self.ROWS_PER_FILE, self.seed
        self.input_dir = inputs.cached(self.cache_dir, self.name, seed, f"{n}x{r}",
                                       lambda d: inputs.stream_input(d, n, r, seed))
        self.n_files = n * r  # documents: one row per source file
        self.input_bytes = _content_bytes(self.input_dir)

    def call(self, spark, bc, out_dir, tracer):
        from dataquality_cli_spark.streaming.stream_pipeline import stream_quality_filter

        schema = spark.read.parquet(os.path.join(self.input_dir, "part0000.parquet")).schema
        with tracer.span(self.entry):
            q = stream_quality_filter(spark, self.input_dir, schema, out_dir, bc=bc)
            q.awaitTermination()
        progress = q.recentProgress
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return {
            "run_id": str(q.runId),
            "batches": [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in progress
                        if p["numInputRows"] > 0],
            "add_batch_s": sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000.0,
            "plan_s": sum(p["durationMs"].get("queryPlanning", 0) for p in progress) / 1000.0,
            "wal_s": sum(p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
                         for p in progress) / 1000.0,
            "written_bytes": _dir_bytes(os.path.join(out_dir, "data"))
            + _dir_bytes(os.path.join(out_dir, "metrics")),
        }

    def warmup(self, spark, bc, out_dir):
        """One untimed drain of the same backlog into its own directory."""
        self.call(spark, bc, out_dir, T.Tracer())

    def _batch_digest(self, spark) -> str:
        memo = self._memo_path()
        known = json.load(open(memo)) if os.path.exists(memo) else {}
        if "batch_digest" in known:
            return known["batch_digest"]
        from dataquality_cli_spark.plans.pipeline import run_pipeline

        rows = run_pipeline(spark, spark.read.parquet(self.input_dir)).select(
            "repo", "path", "commit", "keep", "drop_reason", "scrubbed_sha256").collect()
        return _remember(memo, "batch_digest", _digest(tuple(r) for r in rows))

    def check(self, spark, out_dir, info):
        fails = []
        v = _read(os.path.join(out_dir, "data"),
                  ["repo", "path", "commit", "keep", "drop_reason", "scrubbed_sha256"]).to_pylist()
        if len(v) != self.n_files:
            fails.append(f"streamed {len(v)} verdicts, want {self.n_files}")
        want_batches = -(-self.N_FILES // 4)
        if len(info["batches"]) != want_batches:
            fails.append(f"{len(info['batches'])} micro-batches, want {want_batches}")
        got = _digest((r["repo"], r["path"], r["commit"], r["keep"], r["drop_reason"],
                       r["scrubbed_sha256"]) for r in v)
        if got != self._batch_digest(spark):
            fails.append("streamed verdicts differ from a batch run_pipeline on the same files")
        return fails

    def extra_metrics(self, infos):
        b = [x for i in infos for x in i["batches"]]
        return {"batch_p50_s": (percentile(b, 0.5), "s", len(b)),
                "batch_p75_s": (percentile(b, 0.75), "s", len(b)),
                **super().extra_metrics(infos)}

    def ledger(self, spark, snap, spans, out_dir, info):
        n = len(info["batches"])
        return {
            # the sink persists each micro-batch, so the scoring UDF runs
            # inside a cached plan whose node metrics Spark does not
            # attribute to any SQL execution: udfs.* read 0 here
            **_udf_ledger(snap["executions"]),
            "stream.batches": n,
            "stream.add_batch_s": info["add_batch_s"],
            "stream.plan_s": info["plan_s"],
            "stream.wal_s": info["wal_s"],
            "stream.jobs_per_batch": len(snap["jobs"]) / n if n else 0.0,
            "stream.batch_p50_s": percentile(info["batches"], 0.5),
            "stream.batch_p75_s": percentile(info["batches"], 0.75),
            "stream.persist_bytes": info["cached_peak"],
            "stream.self_s": T.union_s(T.stage_interval(s) for s in snap["stages"]),
            **_sink_ledger(snap),
        }


WORKLOADS = {w.name: w for w in (FilterFiles, DescribeCsv, BuildCorpus, StreamFilter)}
