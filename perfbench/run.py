"""Product-path benchmark for documentai_spark (see README.md).

    python3 perfbench/run.py --workload extract_ordered --seed 1 \\
        --seconds 5 --trace 0

Runs one workload on ``local[<cores>]`` in this process, checks every
output it produces, prints a readable summary and, as the last line of
standard output, one JSON object ``{correct, attempted, failed,
metrics}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
is the separate traced run that reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("extract_ordered", "prepare_export")
SETUPS = 2
# extract_ordered input: ~9.5k turns, 2 mega conversations of 2000 turns
TRANSCRIPTS = {"n_convs": 200, "mega_every": 100, "mega_turns": 2000}
# prepare_export input: 1000 base documents x 2 perturbed copies
DOCUMENTS = {"n_base": 1000, "copies": 2}
# smaller inputs for the other path's layer probes in a traced run
TRANSCRIPTS_PROBE = {"n_convs": 60, "mega_every": 50, "mega_turns": 300}
DOCUMENTS_PROBE = {"n_base": 500, "copies": 2}
# The first call after set-up runs its code paths cold, ~1.7x slower on
# both workloads. extract_ordered times several short calls, so one
# untimed (but checked) call comes first. prepare_export times one export
# per run, cold, as a batch user runs it: a warm-up export would not fit
# the run's time budget.
WARM_UP = {"extract_ordered": True, "prepare_export": False}
# timed calls per run at least (and at least --seconds of them). With
# --seconds below one call's time this fixes the count, so every run
# reports the same statistic; a third extract call would push a full
# set of runs past its time budget on a slow host.
MIN_CALLS = {"extract_ordered": 2, "prepare_export": 1}
MIXTURE = {"src0": 0.5, "src1": 0.25}
LM_THRESHOLD = 1.45
BUDGET = 2048
CHECKPOINT_BUCKETS = 16


def _quiet(*_args, **_kw) -> None:
    pass


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _clock(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class Run:
    """One benchmark invocation: inputs, session, counters."""

    def __init__(self, args):
        from harness import prepare_env
        self.args = args
        self.cpus = len(os.sched_getaffinity(0))
        self.cache = os.path.join(WORK, "cache")
        self.out = os.path.join(WORK, "out", args.workload)
        os.makedirs(self.cache, exist_ok=True)
        prepare_env(ROOT, WORK)
        from tracing import Tracer
        self.tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}",
                             enabled=bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.model = None
        self.store = None

    # ------------------------------------------------------------ checks
    def check(self, fn, *args) -> list[str]:
        """Run one output check; a check that raises is a failed check."""
        try:
            problems = fn(*args)
        except Exception as e:
            problems = [f"{fn.__name__} raised {e!r:.300}"]
        self.record(problems)
        return problems

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print("CHECK FAILED:", "; ".join(problems), flush=True)

    # ------------------------------------------------------------ inputs
    def transcripts(self, shape: dict):
        from inputs import oracle_table, transcripts
        path, info = transcripts(self.cache, self.args.seed, **shape)
        return path, info, oracle_table(self.cache, path, self.cpus)

    def documents(self, shape: dict):
        from inputs import documents
        return documents(self.cache, self.args.seed, **shape)

    # ------------------------------------------------------------- setup
    def setup(self) -> dict:
        """build_session + warm_workers + frozen model load, timed."""
        from harness import session_conf
        from documentai_spark.operators.curation import load_lm_model
        from documentai_spark.sources.session import (
            build_session, warm_workers,
        )
        span = self.tracer.span
        t0 = time.perf_counter()
        with span("sources.session:build_session"):
            self.spark = build_session(
                "perfbench", master=f"local[{self.cpus}]",
                shuffle_partitions=max(self.cpus, 32),
                extra_conf=session_conf(WORK))
            self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with span("sources.session:warm_workers"):
            warm_workers(self.spark, self.cpus)
        t2 = time.perf_counter()
        with span("operators.curation:load_lm_model"):
            self.model = load_lm_model()
        t3 = time.perf_counter()
        return {"setup_s": t3 - t0, "build_session_s": t1 - t0,
                "warm_workers_s": t2 - t1}

    def stop(self) -> None:
        from harness import stop_session
        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None

    # --------------------------------------------------- product calls
    def extract_ordered(self, in_path: str, out_dir: str,
                        oracle) -> float:
        """One flagship pipeline run, checked against the oracle."""
        from checks import check_ordered
        from documentai_spark.plans.pipeline import extraction_pipeline
        span = self.tracer.span
        t0 = time.perf_counter()
        try:
            with span("plans.pipeline:extraction_pipeline"):
                df = extraction_pipeline(self.spark.read.parquet(in_path),
                                         ordered_output=True)
            with span("plans.pipeline:write_output"):
                df.write.mode("overwrite").parquet(out_dir)
        except Exception as e:  # a failed run is counted, not fatal
            self.record([f"extract_ordered raised {e!r:.300}"])
            raise
        wall = time.perf_counter() - t0
        with span("bench:check"):
            self.check(check_ordered, out_dir, oracle)
        return wall

    def prepare_export(self, docs: str, bench: str, out_dir: str,
                       n_docs: int) -> float:
        """One --prepare export (near-dedup, decontamination, LM
        threshold, mixture), checked."""
        from checks import check_export
        from documentai_spark.plans.checkpoint import run_prepare_stages
        shutil.rmtree(out_dir, ignore_errors=True)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("plans.prepare:run_prepare_stages"):
                line = run_prepare_stages(
                    self.spark, docs, out_dir,
                    benchmark=self.spark.read.parquet(bench),
                    near_dedup=True, mixture_rates=MIXTURE,
                    lm_model=self.model, lm_threshold=LM_THRESHOLD,
                    budget=BUDGET, log=_quiet)
        except Exception as e:
            self.record([f"prepare_export raised {e!r:.300}"])
            raise
        wall = time.perf_counter() - t0
        with self.tracer.span("bench:check"):
            self.check(check_export, line, out_dir, docs, bench, n_docs,
                       BUDGET)
        return wall

    def product(self, inputs: dict) -> float:
        if self.args.workload == "extract_ordered":
            return self.extract_ordered(inputs["t_path"], self.out,
                                        inputs["t_oracle"])
        return self.prepare_export(inputs["d_path"], inputs["d_bench"],
                                   self.out, inputs["d_info"]["rows"])

    def warm_up(self, inputs: dict) -> float | None:
        """The untimed first call, where the workload has one."""
        if not WARM_UP[self.args.workload]:
            return None
        with self.tracer.span("bench:warm_up"):
            return self.product(inputs)


# -------------------------------------------------------------- probes

def probe_extraction(run: Run, t_path: str, oracle,
                     pipeline_out: str | None, m: dict) -> None:
    """Per-layer isolation calls of the extraction path on transcripts."""
    import pandas as pd
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from checks import check_checkpoint
    from inputs import LONG_TURN_CHARS
    from documentai_spark.core.entities import extract_entities
    from documentai_spark.core.extract import extract_turn
    from documentai_spark.core.spans import entity_spans
    from documentai_spark.core.textkind import detect_kind
    from documentai_spark.functions.verdict import with_verdict
    from documentai_spark.operators.extraction import (
        with_extraction_and_quality,
    )
    from documentai_spark.operators.quality_vec import fused_quality
    from documentai_spark.plans.checkpoint import (
        read_manifest, run_checkpointed,
    )
    from documentai_spark.plans.pipeline import (
        OUTPUT_COLUMNS, extraction_pipeline,
    )
    spark, span = run.spark, run.tracer.span
    probe = os.path.join(WORK, "probe")

    # core: extract_turn per kind on the workload's own texts
    texts = pq.read_table(t_path, columns=["text"])["text"].to_pylist()
    by_kind: dict[str, list[str]] = {}
    for t in texts:
        t = t or ""
        k = "long" if len(t) > LONG_TURN_CHARS else detect_kind(t)
        if len(by_kind.setdefault(k, [])) < (8 if k == "long" else 300):
            by_kind[k].append(t)
    extracted = []
    with span("core:extract_turn"):
        for k in ("plain", "html", "layout", "long"):
            sample = by_kind.get(k, [])
            dt, res = _clock(lambda s=sample: [extract_turn(t)[1]
                                              for t in s])
            extracted += res
            m[f"core.extract_turn_us.{k}"] = dt / max(len(sample), 1) * 1e6
    with span("core:entities"):
        dt, _ = _clock(lambda: [entity_spans(e, extract_entities(e))
                                for e in extracted])
        m["core.entities_us"] = dt / max(len(extracted), 1) * 1e6

    # quality_vec: the fused kernel per 2048-row batch
    batches = [texts[i:i + 2048] for i in range(0, len(texts), 2048)][:4]
    ext_batches = [[extract_turn(t)[1] for t in b] for b in batches]
    with span("operators.quality_vec:fused_quality"):
        times = [_clock(lambda b=b, e=e: fused_quality(
            pd.Series(b, dtype=object), e))[0]
            for b, e in zip(batches, ext_batches)]
    m["operators.quality_vec.fused_quality_ms"] = \
        statistics.median(times) * 1e3

    src = spark.read.parquet(t_path)
    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with span("plans.pipeline:scan"):
        m["plans.pipeline.scan_s"], _ = _clock(lambda: _noop(src))
    with span("plans.pipeline:range_exchange"):
        m["plans.pipeline.range_exchange_s"], _ = _clock(lambda: _noop(
            src.repartitionByRange(sp, F.col("conv_id"), F.col("turn_idx"))
               .sortWithinPartitions("conv_id", "turn_idx")))
    with span("operators.extraction:stage"):
        m["operators.extraction.stage_s"], _ = _clock(
            lambda: _noop(with_extraction_and_quality(src)))
    if pipeline_out is None:
        pipeline_out = os.path.join(probe, "pipeline")
        with span("plans.pipeline:pipeline"):
            extraction_pipeline(src).write.mode("overwrite") \
                .parquet(pipeline_out)
    done = spark.read.parquet(pipeline_out)
    with span("plans.pipeline:write"):
        m["plans.pipeline.write_s"], _ = _clock(
            lambda: done.write.mode("overwrite").parquet(
                os.path.join(probe, "rewrite")))
    scored = done.drop("confidence", "verdict", "needs_preprocessing",
                       "recommendations")
    with span("functions.verdict:with_verdict"):
        m["functions.verdict.with_verdict_s"], _ = _clock(
            lambda: _noop(with_verdict(scored).select(*OUTPUT_COLUMNS)))

    # checkpoint loop: cut at half the buckets, resumed, resumed again
    c_path, c_oracle = _no_mega(t_path, oracle)
    out = os.path.join(probe, "checkpoint")
    shutil.rmtree(out, ignore_errors=True)
    half = CHECKPOINT_BUCKETS // 2
    mark = run.store.mark()
    with span("plans.checkpoint:interrupted"):
        first = run_checkpointed(spark, c_path, out, include_entities=True,
                                 n_buckets=CHECKPOINT_BUCKETS,
                                 max_buckets=half, log=_quiet)
    with span("plans.checkpoint:resume"):
        m["plans.checkpoint.resume_s"], second = _clock(
            lambda: run_checkpointed(spark, c_path, out,
                                     include_entities=True,
                                     n_buckets=CHECKPOINT_BUCKETS,
                                     log=_quiet))
    jobs = run.store.since(mark)["jobs"]
    with span("plans.checkpoint:resume_noop"):
        m["plans.checkpoint.resume_noop_s"], third = _clock(
            lambda: run_checkpointed(spark, c_path, out,
                                     include_entities=True,
                                     n_buckets=CHECKPOINT_BUCKETS,
                                     log=_quiet))
    expect = (half, CHECKPOINT_BUCKETS - half, half, CHECKPOINT_BUCKETS)
    counts = (first["buckets_done"], second["buckets_done"],
              second["buckets_skipped"], third["buckets_skipped"])

    def check_resume(out, oracle):
        problems = check_checkpoint(out, oracle, read_manifest(out),
                                    CHECKPOINT_BUCKETS)
        if counts != expect:
            problems.append(f"checkpoint: bucket counts done/done/"
                            f"skipped/skipped {counts}, want {expect}")
        return problems
    with span("bench:check"):
        run.check(check_resume, out, c_oracle)
    manifests = read_manifest(out)
    walls = [r["wall_sec"] for r in manifests.values()]
    m["plans.checkpoint.bucket_s.p50"] = statistics.median(walls)
    m["plans.checkpoint.bucket_s.max"] = max(walls)
    m["plans.checkpoint.jobs_per_bucket"] = jobs / CHECKPOINT_BUCKETS


def _no_mega(t_path: str, oracle):
    """The transcripts without their mega conversations, for the
    checkpoint loop, plus the matching oracle rows."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    path = t_path + "_nomega"
    t = pq.read_table(t_path)
    counts = t.group_by("conv_id").aggregate([("turn_idx", "count")])
    mega = set(pc.filter(counts["conv_id"],
                         pc.greater(counts["turn_idx_count"], 50))
               .to_pylist())
    mega = pa.array(sorted(mega), pa.string())
    if not os.path.exists(os.path.join(path, "_DONE")):
        os.makedirs(path, exist_ok=True)
        keep = pc.invert(pc.is_in(t["conv_id"], mega))
        pq.write_table(t.filter(keep), os.path.join(path, "part-0.parquet"))
        open(os.path.join(path, "_DONE"), "w").close()
    return path, oracle.filter(pc.invert(pc.is_in(oracle["conv_id"], mega)))


def probe_prepare(run: Run, d_path: str, bench: str, d_info: dict,
                  export: str | None, m: dict) -> None:
    """Per-layer isolation calls of the --prepare path on documents."""
    from checks import fill_frac
    from documentai_spark.operators.curation import (
        curate_documents, decontaminate, with_lm_perplexity,
    )
    from documentai_spark.operators.dedup import (
        cluster_pairs, exact_rep_rows, minhash_dedup_pairs,
        minhash_lsh_candidates,
    )
    from documentai_spark.operators.packing import auto_shards
    from documentai_spark.plans.checkpoint import read_stage_manifest
    from documentai_spark.plans.prepare import pack_corpus
    spark, span = run.spark, run.tracer.span

    if export is None:
        export = os.path.join(WORK, "probe", "prepare")
        run.prepare_export(d_path, bench, export, d_info["rows"])
    for stage, key in (("prepare-corpus", "corpus_stage_s"),
                       ("prepare-assignment", "assignment_stage_s")):
        rec = read_stage_manifest(export, stage) or {}
        m[f"plans.prepare.{key}"] = rec.get("wall_sec", 0.0)

    docs = spark.read.parquet(d_path)
    bench_df = spark.read.parquet(bench)
    with span("operators.curation:curate"):
        m["operators.curation.curate_s"], _ = _clock(
            lambda: _noop(curate_documents(docs)))
    with span("operators.curation:decontaminate"):
        m["operators.curation.decontaminate_s"], _ = _clock(
            lambda: _noop(decontaminate(docs, bench_df)))
    with span("operators.curation:lm_perplexity"):
        m["operators.curation.lm_perplexity_s"], _ = _clock(
            lambda: _noop(with_lm_perplexity(docs, run.model,
                                             threshold=LM_THRESHOLD)))

    reps = exact_rep_rows(docs.select("doc_id", "text"), "text", "doc_id",
                          context="perfbench")
    with span("operators.dedup:lsh_candidates"):
        m["operators.dedup.lsh_candidates_s"], cand = _clock(
            lambda: minhash_lsh_candidates(reps, max_bucket=4096).count())
    with span("operators.dedup:verify_pairs"):
        pairs = minhash_dedup_pairs(reps, max_bucket=4096) \
            .localCheckpoint(eager=True)
    n_pairs = pairs.count()
    m["operators.dedup.candidate_pairs"] = cand
    m["operators.dedup.verified_pair_frac"] = n_pairs / max(cand, 1)
    stats: dict = {}
    mark = run.store.mark()
    with span("operators.dedup:cluster_pairs"):
        m["operators.dedup.cluster_pairs_s"], _ = _clock(
            lambda: _noop(cluster_pairs(pairs, reps.select("doc_id"),
                                        a_col="id_a", b_col="id_b",
                                        id_col="doc_id", stats=stats)))
    m["operators.dedup.cluster_jobs"] = run.store.since(mark)["jobs"]
    m["operators.dedup.cluster_rounds"] = stats.get("rounds", 0)

    corpus = spark.read.parquet(os.path.join(export, "corpus"))
    n_corpus = corpus.count()
    with span("operators.packing:pack"):
        m["operators.packing.pack_s"], _ = _clock(lambda: _noop(pack_corpus(
            corpus, budget=BUDGET, n_shards=auto_shards(16, n_corpus),
            est_rows=n_corpus)))
    m["operators.packing.fill_frac"] = fill_frac(
        os.path.join(export, "assignment"), BUDGET)


# ---------------------------------------------------------------- runs

def e2e_run(run: Run, inputs: dict, rows: int) -> dict:
    """Untraced run: SETUPS fresh set-ups, then closed-loop product calls
    for ``--seconds`` of product time and at least MIN_CALLS calls."""
    from harness import PeakRss, StatusStore, canaries, jvm_pid
    setups = []
    for i in range(SETUPS):
        setups.append(run.setup())
        if i < SETUPS - 1:
            run.stop()
    run.store = StatusStore(run.spark)
    mark = run.store.mark()
    walls: list[float] = []
    with PeakRss(jvm_pid()) as rss:
        warm_up = run.warm_up(inputs)
        while (len(walls) < MIN_CALLS[run.args.workload]
               or sum(walls) < run.args.seconds):
            try:
                walls.append(run.product(inputs))
            except Exception:
                if not walls:
                    raise
                break
    counters = run.store.since(mark)
    jvm, udf = canaries(run.spark, run.cpus)
    wall = statistics.median(walls)
    print(f"timed calls: {len(walls)}  walls_s: "
          f"{[round(w, 3) for w in walls]}  untimed first call: "
          f"{warm_up if warm_up is None else round(warm_up, 3)}")
    print(f"setups_s: {[round(s['setup_s'], 3) for s in setups]}")
    print(f"spark (whole window): {json.dumps(counters)}")
    print(f"host canaries: jvm {jvm:.3f} s, udf {udf:.3f} s")
    return {
        "setup_s": (statistics.median(s["setup_s"] for s in setups), "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (rows / wall, "rows/s"),
        "peak_rss_mb": (rss.peak / 1e6, "MB"),
    }


def traced_run(run: Run, inputs: dict) -> dict:
    """Traced run: one set-up, the product call untraced then traced,
    then the isolation calls of every layer."""
    from harness import StatusStore, canaries
    from tracing import self_times, span_cost
    span = run.tracer.span
    m: dict[str, float] = {}
    with span("bench:setup"):
        s = run.setup()
    m["sources.build_session_s"] = s["build_session_s"]
    m["sources.warm_workers_s"] = s["warm_workers_s"]
    run.store = StatusStore(run.spark)

    run.warm_up(inputs)
    mark = run.store.mark()
    with span("bench:product"):
        m["trace.wall_s"] = run.product(inputs)
    c = run.store.since(mark)
    for k in ("jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "shuffle_time_s", "python_total_s",
              "python_data_sent_bytes", "python_data_received_bytes",
              "python_eval_nodes"):
        m[f"spark.{k}"] = c[k]
    m["spark.cpu_busy_frac"] = c["executor_cpu_s"] / max(
        c["executor_run_s"], 1e-9)

    own = run.args.workload
    with span("bench:probes"):
        probe_extraction(
            run, inputs["t_path"], inputs["t_oracle"],
            run.out if own == "extract_ordered" else None, m)
        probe_prepare(
            run, inputs["d_path"], inputs["d_bench"], inputs["d_info"],
            run.out if own == "prepare_export" else None, m)
    with span("host:canaries"):
        m["host.canary_jvm_s"], m["host.canary_udf_s"] = canaries(
            run.spark, run.cpus)
    for layer, sec in self_times(run.tracer.spans).items():
        m[f"self_s.{layer}"] = sec
    m["trace.overhead_s"] = len(run.tracer.spans) * span_cost()
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", run.tracer.run_id + ".jsonl")
    run.tracer.write(path)
    print(f"spans: {path}")
    print(f"tracing overhead: {m['trace.overhead_s']:.6f} s over "
          f"{len(run.tracer.spans)} spans")
    print(f"resume_s: {m['plans.checkpoint.resume_s']:.3f} s "
          "(checkpoint loop, cut at half the buckets)")
    return {k: (v, _unit(k)) for k, v in m.items()}


def _unit(name: str) -> str:
    """A metric's unit, from the first unit suffix found walking its
    dotted name from the end (``core.extract_turn_us.html`` is in us)."""
    for part in reversed(name.split(".")):
        for suffix, unit in (("_us", "us"), ("_ms", "ms"), ("_s", "s"),
                             ("_bytes", "B"), ("_frac", "ratio")):
            if part.endswith(suffix):
                return unit
    return "count"


def load_inputs(run: Run) -> tuple[dict, int]:
    """The workload's inputs (and, for a traced run, the other path's
    smaller probe inputs), generated off the clock."""
    own = run.args.workload
    t0 = time.perf_counter()
    inputs: dict = {}
    if own == "extract_ordered" or run.args.trace:
        shape = TRANSCRIPTS if own == "extract_ordered" \
            else TRANSCRIPTS_PROBE
        inputs["t_path"], inputs["t_info"], inputs["t_oracle"] = \
            run.transcripts(shape)
    if own == "prepare_export" or run.args.trace:
        shape = DOCUMENTS if own == "prepare_export" else DOCUMENTS_PROBE
        inputs["d_path"], inputs["d_bench"], inputs["d_info"] = \
            run.documents(shape)
    info = inputs["t_info"] if own == "extract_ordered" \
        else inputs["d_info"]
    print(f"workload {own} seed {run.args.seed} input: {json.dumps(info)} "
          f"(ready in {time.perf_counter() - t0:.1f} s)")
    return inputs, info["rows"]


def run_all(args) -> int:
    """``--workload all``: every workload in its own process."""
    code = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        code |= subprocess.run(cmd).returncode
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    import documentai_spark  # noqa: F401  fail fast outside a checkout
    run = Run(args)
    inputs, rows = load_inputs(run)
    try:
        if args.trace:
            metrics = traced_run(run, inputs)
        else:
            metrics = e2e_run(run, inputs, rows)
    finally:
        run.stop()
    for k, (v, unit) in metrics.items():
        print(f"{k}: {v:.6g} {unit}")
    print(f"failed_frac: {run.failed / max(run.attempted, 1):.6g} ratio "
          f"({run.failed} of {run.attempted} checked runs)")
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed if run.attempted else 1,
        "metrics": {k: {"value": v, "unit": unit}
                    for k, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
