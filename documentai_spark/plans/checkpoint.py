"""Per-partition checkpoint/resume driver loop with lineage metrics.

``north_rule``: "resumable from checkpoint with per-partition lineage +
metrics". The reference's analog is the per-step ``processing_history``
lineage list (api-gateway/app.py:325-331,514-520,624-631); at table scale
this becomes a driver loop over stable input partitions:

- the input is split into ``n_buckets`` deterministic partitions
  ``bucket = pmod(hash(conv_id), n_buckets)`` (the parquet stand-in for an
  Iceberg ``bucket(N, conv_id)`` partition spec — whole conversations never
  straddle a bucket, so per-conversation ordering stays partition-local);
- each bucket is processed independently and written with
  ``mode("overwrite")`` into its own ``bucket=K`` directory (the parquet
  stand-in for Iceberg ``overwritePartitions`` — re-running a bucket
  replaces it wholly, never appends, so resume is idempotent;
  SURVEY §7.4 risk #5);
- a manifest JSON file per bucket records lineage
  ``{partition, status, rows_in, rows_out, bytes_out, failures, started,
  finished, wall_sec}`` and is committed atomically (tmp + rename) AFTER
  the data write succeeds;
- resume = skip buckets whose manifest says ``done``; a bucket killed
  mid-write has no manifest and is re-run from scratch.

On a real cluster each bucket is a full multi-executor Spark job over one
Iceberg partition; the loop adds no serialization beyond job boundaries
(inside a bucket all parallelism is Spark's). Buckets also bound failure
blast radius at 100 TB: one lost job loses 1/N of the work.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from documentai_spark.plans.pipeline import extraction_pipeline

MANIFEST_DIR = "_checkpoints"


def _manifest_path(out_path: str, bucket: int) -> str:
    return os.path.join(out_path, MANIFEST_DIR, f"bucket-{bucket:05d}.json")


def _read_record(path: str) -> dict | None:
    """The ONE corrupt-tolerant manifest read, shared by bucket and stage
    manifests. A missing, truncated or corrupt file (crash between rename
    and data-block flush on a non-fsync filesystem, pre-r7 files) reads
    as None — NOT done: buckets and stages are idempotently re-runnable
    by design, so the recovery for a bad manifest is simply to redo that
    work, never to brick resume. Valid JSON that is not a record (a list,
    hand-edited or foreign files) reads as None too."""
    try:
        with open(path) as f:
            rec = json.load(f)
    except (json.JSONDecodeError, OSError):
        return None
    return rec if isinstance(rec, dict) else None


def read_manifest(out_path: str) -> dict[int, dict]:
    """All committed bucket manifests (driver-side); unreadable ones and
    records without an int ``partition`` read as not done."""
    d = os.path.join(out_path, MANIFEST_DIR)
    out: dict[int, dict] = {}
    if not os.path.isdir(d):
        return out
    for fn in os.listdir(d):
        if fn.startswith("bucket-") and fn.endswith(".json"):
            rec = _read_record(os.path.join(d, fn))
            if rec is not None and isinstance(rec.get("partition"), int):
                out[rec["partition"]] = rec
    return out


def _atomic_write_json(path: str, rec: dict) -> None:
    """Atomic commit: tmp + fsync + rename (a crash never leaves a half
    manifest) — the ONE commit protocol shared by bucket and stage
    manifests, so protocol changes (fsync, versioning) cannot diverge.
    The fsync matters: os.replace orders the RENAME but not the data
    blocks, so without it a power loss could commit a zero-length
    manifest over a completed bucket (r7 review)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _stage_manifest_path(out_path: str, name: str) -> str:
    return os.path.join(out_path, MANIFEST_DIR, f"stage-{name}.json")


def read_stage_manifest(out_path: str, name: str) -> dict | None:
    """A named (non-bucket) stage's committed manifest, or None (missing
    or unreadable: stage pending)."""
    return _read_record(_stage_manifest_path(out_path, name))


def _clear_stage_manifest(out_path: str, name: str) -> None:
    """Invalidate a stage BEFORE re-executing it (r7 review): without
    this, a recompute (``resume=False``, or a config-changed re-run)
    that crashes mid-write leaves the PRIOR run's ``done`` manifest
    standing over a half-overwritten data directory, and a later
    ``--resume`` would skip the stage and serve the corruption. The
    kill-mid-stage invariant ('no manifest -> stage re-runs') must hold
    for re-executions, not just fresh output directories."""
    try:
        os.remove(_stage_manifest_path(out_path, name))
    except FileNotFoundError:
        pass


def _stage_guard(out_path: str, name: str, config: dict, refusal: str, *,
                 resume: bool = True,
                 legacy: dict | None = None) -> dict | None:
    """The resume decision of every named stage: the committed ``done``
    record when ``resume`` and its config matches; a ValueError built
    from ``refusal`` (a format string over ``out``, ``name``, ``got``
    and ``config``) when it does not; otherwise None, after clearing the
    stage's manifest so the caller re-runs it from scratch.

    ``legacy`` fills config keys a stage committed before they existed
    (absent means the stage ran without that option)."""
    prior = read_stage_manifest(out_path, name) if resume else None
    if prior and prior.get("status") == "done":
        got = prior.get("config")
        if legacy and isinstance(got, dict):
            got = dict(got)
            for k, v in legacy.items():
                got.setdefault(k, v)
        if got != config:
            raise ValueError(refusal.format(out=out_path, name=name,
                                            got=got, config=config))
        return prior
    _clear_stage_manifest(out_path, name)
    return None


def _stage_commit(out_path: str, name: str, config: dict, started: float,
                  **payload) -> dict:
    """Commit stage ``name`` — only AFTER its data write succeeded, so a
    kill mid-stage leaves no manifest and the stage re-runs. Returns
    the committed record."""
    finished = time.time()
    rec = {"stage": name, "status": "done", **payload, "config": config,
           "started": started, "finished": finished,
           "wall_sec": round(finished - started, 3)}
    _atomic_write_json(_stage_manifest_path(out_path, name), rec)
    return rec


def lineage_table(spark: SparkSession, out_path: str):
    """The `_lineage` table view: committed manifests as a DataFrame
    (the Iceberg commit-metadata analog; SURVEY §1.1 lineage record).
    Covers BOTH loop shapes: the curation loop's kept/near_dup lineage
    columns are included (null for extraction manifests) — r7 review
    found the hardcoded extraction schema silently dropped them."""
    schema = ("partition int, status string, rows_in long, rows_out long, "
              "kept long, near_dup long, near_dedup boolean, "
              "bytes_out long, failures int, started double, "
              "finished double, wall_sec double")
    fields = [s.split()[0] for s in schema.split(", ")]
    recs = [{k: rec.get(k) for k in fields}
            for rec in read_manifest(out_path).values()]
    return spark.createDataFrame(recs, schema)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def _committed_buckets(out_path: str, config: dict,
                       consequence: str) -> dict[int, dict]:
    """The committed bucket manifests, refused unless every one was
    committed under ``config``. Committed buckets are only resumable
    under the SAME bucketing, output schema and keep rules (resuming
    an --entities run over a plain one would silently serve
    half the conversations without entity columns; a different
    n_buckets would double-write rows; a different min_tokens would mix
    keep semantics). A manifest with NO recorded config (pre-guard
    rounds) must read as a MISMATCH, not default to the current config —
    defaulting passed exactly the legacy outputs the guard exists to
    protect. Callers check this BEFORE any stage work."""
    done = read_manifest(out_path)
    stale = [b for b, rec in done.items() if rec.get("config") != config]
    if stale:
        raise ValueError(
            f"output {out_path!r} holds buckets committed with a "
            f"different configuration (e.g. bucket {stale[0]}: "
            f"{done[stale[0]].get('config')} vs {config}); resuming "
            f"would {consequence} — use a fresh output directory or "
            "matching arguments")
    return done


def _run_buckets(out_path: str, done: dict[int, dict], config: dict,
                 bucket_job, *, n_buckets: int,
                 max_buckets: int | None = None,
                 counts: tuple[str, ...] = (), line: str, log) -> dict:
    """The bucket loop shared by both checkpointed drivers: skip buckets
    whose manifest says ``done``, process at most ``max_buckets`` pending
    ones (``run_checkpointed``'s kill hook), write each into its own
    ``bucket=K`` directory (overwrite, so re-running a bucket replaces
    it wholly) and commit its manifest AFTER the data write.

    ``bucket_job(bucket)`` returns ``(df, lineage)``: the bucket's
    output DataFrame with its Observations attached, and a callable
    reading them after the write into the manifest's count fields
    (``rows_in``, ``rows_out``, plus the caller's extra ``counts``).
    ``line`` formats the per-bucket log line from the record. Returns
    the aggregate stats over processed and skipped buckets."""
    summed = ("rows_in", "rows_out", *counts, "bytes_out", "failures")
    stats = dict.fromkeys((*summed, "buckets_done", "buckets_skipped"), 0)
    for bucket in range(n_buckets):
        rec = done.get(bucket)
        if rec and rec.get("status") == "done":
            stats["buckets_skipped"] += 1
        elif max_buckets is not None and stats["buckets_done"] >= max_buckets:
            continue
        else:
            started = time.time()
            df, lineage = bucket_job(bucket)
            bucket_dir = os.path.join(out_path, f"bucket={bucket}")
            df.write.mode("overwrite").parquet(bucket_dir)
            finished = time.time()
            rec = {"partition": bucket, "status": "done", **lineage(),
                   "bytes_out": _dir_bytes(bucket_dir), "failures": 0,
                   "config": config, "started": started,
                   "finished": finished,
                   "wall_sec": round(finished - started, 3)}
            _atomic_write_json(_manifest_path(out_path, bucket), rec)
            stats["buckets_done"] += 1
            log(line.format(n_buckets=n_buckets, **rec))
        for k in summed:
            stats[k] += rec.get(k, 0)
    # a max_buckets-limited run must be distinguishable from a complete
    # one — its aggregate counts cover only the processed+skipped subset
    pending = n_buckets - stats["buckets_done"] - stats["buckets_skipped"]
    if pending > 0:
        stats["buckets_pending"] = pending
        stats["incomplete"] = True
    return stats


def run_checkpointed(spark: SparkSession, in_path: str, out_path: str, *,
                     n_buckets: int = 16, include_entities: bool = False,
                     max_buckets: int | None = None,
                     log=print) -> dict:
    """Process bucket-by-bucket with resume. Returns aggregate stats.

    ``max_buckets`` processes at most that many pending buckets then
    returns (the kill-and-resume test hook).

    Per-bucket job sizing: each bucket is ~1/n_buckets of the input, so
    its pipeline gets shuffle_partitions/n_buckets partitions (floor 4) —
    a bucket job should not pay the full-table task count. Lineage counts
    ride the single write job via Observations (no re-read, no extra
    count jobs).

    Scan note (r7 review): the ``pmod(hash(conv_id), n)`` predicate is a
    cheap JVM hash over one short column, but it cannot push to plain
    parquet, so the loop reads the input n_buckets times. On the real
    deployment the input is an Iceberg table with a ``bucket(N,
    conv_id)`` partition spec and the SAME predicate prunes to one
    partition per job — the stand-in inefficiency is parquet-only. The
    curation loop's key, by contrast, needs a full regex normalization
    per evaluation, so it stages the input through
    :func:`_bucketize_stage` even here; staging conv_id-bucketed
    transcripts too would double the storage write for a predicate
    that costs ~nothing to re-evaluate.
    """
    from pyspark.sql.observation import Observation

    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bucket_partitions = max(4, sp // n_buckets)
    src = spark.read.parquet(in_path)
    if "_bucket" in src.columns:
        raise ValueError(
            "input already has a '_bucket' column — the checkpoint loop "
            "derives its own bucket key under that name and would "
            "silently clobber and drop the input's; rename it upstream")
    src = src.withColumn("_bucket",
                         F.pmod(F.hash("conv_id"), F.lit(n_buckets)))
    config = {"n_buckets": n_buckets,
              "include_entities": include_entities}
    done = _committed_buckets(out_path, config, "mix schemas or bucketing")

    def bucket_job(bucket):
        obs_in = Observation(f"in_{bucket}")
        obs_out = Observation(f"out_{bucket}")
        part = src.filter(F.col("_bucket") == bucket).drop("_bucket")
        out = extraction_pipeline(part, salt_partitions=bucket_partitions,
                                  include_entities=include_entities,
                                  input_observation=obs_in)
        # BOTH lineage counts ride the single write job: rows_in is
        # observed just above the pipeline's exchange (the range-sampling
        # job re-executes only the subplan below it — no double count and
        # no extra per-bucket scan; VERDICT r2 'What's wrong' #2),
        # rows_out above the final projection.
        out = out.observe(obs_out, F.count(F.lit(1)).alias("n"))
        return out, lambda: {"rows_in": obs_in.get["n"],
                             "rows_out": obs_out.get["n"]}

    return _run_buckets(
        out_path, done, config, bucket_job, n_buckets=n_buckets,
        max_buckets=max_buckets, log=log,
        line="[checkpoint] bucket {partition}/{n_buckets}: "
             "{rows_out} rows, {wall_sec}s")


def zero_nulls(metrics) -> dict:
    """Observation metrics with SQL-NULL sums coalesced to 0: SUM over
    zero observed rows is None, and the accounting arithmetic
    (``rows - surviving`` etc.) would raise TypeError on an empty input
    or an all-dropped filter AFTER the writes already succeeded."""
    return {k: (0 if v is None else v) for k, v in dict(metrics).items()}


def _effective_curation_config(curate_kw: dict) -> dict:
    """``curate_kw`` with with_curation_flags' scalar defaults baked in,
    sorted — so the manifests' 'same configuration' test compares
    SEMANTICS, not spelling (r7 review: the raw-kwargs form refused a
    resume that spelled a default explicitly in one run and omitted it
    in the other, while the reps stage's baked form accepted it; one
    rule for both now, derived from the signature so a new threshold
    parameter is covered automatically)."""
    import inspect

    from documentai_spark.operators.curation import with_curation_flags

    defaults = {
        k: p.default
        for k, p in inspect.signature(with_curation_flags)
                           .parameters.items()
        if p.default is not inspect.Parameter.empty
        and isinstance(p.default, (bool, int, float, str, type(None)))}
    # runtime objects / separately-recorded mode flags, not thresholds
    for k in ("near_reps", "near_stats", "near_dedup"):
        defaults.pop(k, None)
    eff = dict(defaults)
    eff.update({k: v for k, v in curate_kw.items() if k in defaults})
    return dict(sorted(eff.items()))


NEAR_REPS_DIR = "_near_reps"
NEAR_REPS_STAGE = "near-reps"

STAGED_DIR = "_staged"
BUCKETIZE_STAGE = "bucketize"


def _bucketize_stage(spark: SparkSession, in_path: str, out_path: str, *,
                     n_buckets: int, text_col: str = "text",
                     log=print) -> tuple[str | None, int]:
    """Stage 0 of the curation resume protocol (r7 review): the bucket
    key is ``pmod(hash(md5(normalized text)), n_buckets)`` — a DERIVED
    column whose normalization runs through JVM regexp_replace, the
    documented ~6 MB/s quirk path on this host. Filtering the raw input
    per bucket therefore re-scans AND re-normalizes the full corpus
    n_buckets times (the predicate cannot push to parquet). Instead the
    input is written ONCE partitioned by the bucket key (the parquet
    analog of writing the corpus into an Iceberg ``bucket(N,
    fingerprint)`` spec); per-bucket reads then prune by directory, so
    the whole loop pays one normalization pass + one staging write
    instead of n_buckets full scans. Committed under the shared stage
    manifest protocol; resume skips straight to the staged table.

    Returns ``(staged_path, staged_rows)``; ``staged_path`` is None for
    an EMPTY input (a partitioned write of nothing leaves no readable
    parquet — the caller falls back to filtering the, empty, input)."""
    from pyspark.sql.observation import Observation

    from documentai_spark.operators.dedup import fingerprint_col

    staged = os.path.join(out_path, STAGED_DIR)
    config = {"n_buckets": n_buckets, "text_col": text_col}
    prior = _stage_guard(
        out_path, BUCKETIZE_STAGE, config,
        "bucketize stage in {out!r} was committed with different "
        "parameters ({got} vs {config}); resuming would mis-route rows "
        "across buckets — use a fresh output directory or matching "
        "arguments")
    if prior:
        rows = prior["rows_out"]
        log(f"[curate-checkpoint] bucketize stage: skipped "
            f"({rows} rows staged)")
        return (staged if rows else None), rows
    started = time.time()
    src = spark.read.parquet(in_path)
    if "bucket" in src.columns:
        raise ValueError(
            "input already has a 'bucket' column — the staged curation "
            "loop derives its own partition key under that name and "
            "would silently clobber and then drop the input's; rename "
            "it upstream")
    src = src.withColumn(
        "bucket", F.pmod(F.hash(fingerprint_col(F.col(text_col))),
                         F.lit(n_buckets)))
    obs = Observation("bucketize")
    (src.observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite").partitionBy("bucket").parquet(staged))
    rows = int(obs.get["n"] or 0)
    rec = _stage_commit(out_path, BUCKETIZE_STAGE, config, started,
                        rows_out=rows, bytes_out=_dir_bytes(staged))
    log(f"[curate-checkpoint] bucketize stage: {rows} rows, "
        f"{rec['wall_sec']}s")
    return (staged if rows else None), rows


def _near_reps_stage(spark: SparkSession, in_path: str, out_path: str,
                     *, log=print, **curate_kw):
    """Stage 0 of the near-dedup resume protocol (VERDICT r6 #2), for
    the curation bucket loop and every ``run_prepare_stages
    (near_dedup=True)`` export: the cluster closure labels GLOBALLY, so
    the per-bucket loop cannot recompute it bucket-by-bucket — instead
    ``dedup.near_dup_reps`` runs ONCE over the whole input and the
    representatives table is written under the same manifest protocol
    as the buckets (data write first, atomic tmp+rename manifest after;
    a kill mid-stage leaves no manifest and the stage re-runs from
    scratch). Resume skips straight
    to reading the written reps. Returns the reps DataFrame."""
    from pyspark.sql.observation import Observation

    from documentai_spark.operators.dedup import near_dup_reps

    reps_dir = os.path.join(out_path, NEAR_REPS_DIR)
    eff = _effective_curation_config(curate_kw)
    # the reps are only valid for the LSH parameters that built them —
    # record them and refuse a resume under different ones (r7 review:
    # silently reusing 0.7-threshold reps on a 0.9-threshold resume
    # would flag every remaining bucket with the wrong clusters); the
    # values come from the shared effective config so this guard and
    # the bucket-manifest guard agree on what "same" means
    config = {k: eff[k] for k in ("id_col", "text_col", "num_hashes",
                                  "bands", "jaccard_threshold",
                                  "max_iter", "max_bucket")}
    prior = _stage_guard(
        out_path, NEAR_REPS_STAGE, config,
        "near-reps stage in {out!r} was committed with different "
        "parameters ({got} vs {config}); resuming would reuse "
        "representatives from the wrong clustering — use a fresh output "
        "directory or matching parameters")
    if prior:
        log(f"[curate-checkpoint] reps stage: skipped "
            f"({prior['rows_out']} reps committed)")
        return spark.read.parquet(reps_dir)
    started = time.time()
    reps = near_dup_reps(spark.read.parquet(in_path),
                         context="near_reps_stage", **config)
    obs = Observation("near_reps")
    (reps.observe(obs, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite").parquet(reps_dir))
    rec = _stage_commit(out_path, NEAR_REPS_STAGE, config, started,
                        rows_out=obs.get["n"],
                        bytes_out=_dir_bytes(reps_dir))
    log(f"[curate-checkpoint] reps stage: {rec['rows_out']} reps, "
        f"{rec['wall_sec']}s")
    return spark.read.parquet(reps_dir)


def run_checkpointed_curation(spark: SparkSession, in_path: str,
                              out_path: str, *, n_buckets: int = 16,
                              near_dedup: bool = False,
                              log=print, **curate_kw) -> dict:
    """Checkpointed corpus curation over a documents table.

    Buckets are keyed by the normalized FINGERPRINT hash — not doc_id —
    so every exact-duplicate group co-buckets, which makes the
    per-bucket min-over-fingerprint dedup globally exact while each
    bucket stays an independent, idempotently-resumable job under the
    same manifest protocol as the extraction loop (Iceberg stand-in:
    a bucket(N, fingerprint) derived-column partition spec). The
    manifest additionally records ``kept``; both counts ride the write
    job via Observations.

    ``near_dedup=True`` (r7): two-phase. Phase 0 computes LSH pairs +
    the global cluster closure ONCE and commits the representatives
    table under its own stage manifest (:func:`_near_reps_stage`);
    the per-bucket loop then JOINS the written reps
    (``with_curation_flags(near_reps=...)``) — every bucket sees the
    same global labels, so the keep set byte-equals a single
    non-resumed ``near_dedup=True`` run while both phases stay
    idempotently resumable. Flag mode is recorded per bucket; resuming
    an output directory with the OTHER mode raises (the schemas
    differ — use a fresh output dir).
    """
    from pyspark.sql.observation import Observation

    from documentai_spark.operators.curation import (
        curate_documents, drop_accounting,
    )

    # committed keep decisions are only resumable under the SAME flag
    # mode (the schemas differ) and thresholds. Defaults are baked in
    # (_effective_curation_config) so explicit-vs-omitted spellings of
    # the same thresholds resume.
    config = {"n_buckets": n_buckets, "near_dedup": near_dedup,
              "curate": _effective_curation_config(curate_kw)}
    done = _committed_buckets(out_path, config, "mix keep semantics")
    # the bucketize stage's own config guard covers n_buckets/text_col
    # (a committed staging table with a different bucket count would
    # mis-route every row); committed bucket manifests predating a
    # staging change are caught there too since both record n_buckets
    reps = None
    if near_dedup:
        reps = _near_reps_stage(spark, in_path, out_path, log=log,
                                **curate_kw)
    text_col = curate_kw.get("text_col", "text")
    staged, staged_rows = _bucketize_stage(
        spark, in_path, out_path, n_buckets=n_buckets,
        text_col=text_col, log=log)
    if staged is not None:
        src = spark.read.parquet(staged)
    else:
        # empty input: nothing staged; per-bucket filters over the
        # (empty) raw input preserve the pre-staging output shape
        src = spark.read.parquet(in_path).withColumn(
            "bucket", F.lit(0))
    counts = ("kept", "near_dup") if near_dedup else ("kept",)

    def bucket_job(bucket):
        # partition-column filter -> directory pruning: each bucket job
        # reads ONLY its staged directory (no full-table re-scan, no
        # re-normalization; the r7 repartition that round-tripped the
        # whole text payload before the first wide stage is gone too —
        # the narrow stages run at scan parallelism and the wide stages
        # use spark.sql.shuffle.partitions regardless)
        part = src.filter(F.col("bucket") == bucket).drop("bucket")
        obs = Observation(f"cur_{bucket}")
        out = curate_documents(part, near_reps=reps, **curate_kw)

        def lineage():
            acc = zero_nulls(obs.get)
            return {"rows_in": acc["rows"], "rows_out": acc["rows"],
                    "near_dedup": near_dedup,
                    **{k: acc[k] for k in counts}}
        return out.observe(obs, *drop_accounting(out.columns)), lineage

    return _run_buckets(
        out_path, done, config, bucket_job, n_buckets=n_buckets,
        counts=counts, log=log,
        line="[curate-checkpoint] bucket {partition}/{n_buckets}: "
             "{rows_out} rows ({kept} kept), {wall_sec}s")


PREPARE_CORPUS_STAGE = "prepare-corpus"
PREPARE_ASSIGN_STAGE = "prepare-assignment"


def _benchmark_identity(benchmark) -> dict | None:
    """Cheap content identity for the --benchmark eval set, recorded in
    the prepare-stage config (r7 ADVICE: `benchmark is not None` let a
    resume with a DIFFERENT eval parquet silently skip the corpus stage
    and serve decontamination computed against the old set). Row count
    plus an order-insensitive xxhash64 fold over every column — one
    tiny agg over an eval-sized table, the same identity whether the
    caller re-reads the same path or hands an equivalent frame.
    """
    if benchmark is None:
        return None
    from pyspark.sql import functions as F
    row = benchmark.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) accumulator: a plain long sum of xxhash64 values
        # overflows under ANSI mode after a handful of rows
        F.sum(F.xxhash64(*[F.col(c).cast("string")
                           for c in benchmark.columns])
              .cast("decimal(38,0)")).alias("h"),
    ).first()
    return {"rows": int(row["n"]),
            "fingerprint": None if row["h"] is None else str(row["h"]),
            "columns": list(benchmark.columns)}


def run_prepare_stages(spark: SparkSession, in_path: str, out_path: str,
                       *, benchmark=None, near_dedup: bool = False,
                       split_weights: dict[str, float] | None = None,
                       mixture_rates: dict[str, float] | None = None,
                       budget: int = 2048, pack_shards: int = 16,
                       seed: int = 42, resume: bool = False,
                       lm_model: dict | None = None,
                       lm_threshold: float | None = None,
                       log=print) -> dict:
    """The --prepare job body as manifest-committed stages (r7): the
    export a 100 TB pipeline actually runs is hours long, and a crash
    between the corpus and assignment writes used to redo everything.
    Both stages now commit under the checkpoint manifest protocol
    (data write first, atomic tmp+rename manifest after — a kill
    mid-stage leaves no manifest and the stage re-runs via its
    idempotent overwrite):

    - ``prepare-corpus``: flag stack [+ near-dedup + decontamination +
      mixture] -> split -> partitioned corpus write; the manifest
      stores BOTH Observation accountings (flags + corpus) so a resumed
      run reprints the full report without recomputing anything.
    - ``prepare-assignment``: pack from the written corpus (auto-sized
      shards) -> partitioned assignment write; manifest stores the
      packing accounting and per-split sequence counts.

    With ``near_dedup`` the global pairs+closure always stages through
    :func:`_near_reps_stage` (its own ``near-reps`` manifest) and the
    corpus stage joins the written reps, so a crash mid-export resumes
    past the LSH chain. ``resume`` only decides whether committed work
    is skipped: ``resume=True`` skips committed stages (the reps stage
    included); ``resume=False`` ignores existing manifests and
    recomputes every stage (manifests are rewritten) through the same
    plan. The stage manifests record the job CONFIG (splits/mixture/
    budget/seed/near-dedup/benchmark identity/lm-threshold); resuming
    with a different config raises instead of silently mixing exports.
    Resume assumes the input (and benchmark) tables are unchanged — the
    same contract as every resume mode here. Returns the accounting
    line ``job.py --prepare`` prints.
    """

    from pyspark.sql.observation import Observation

    from documentai_spark.operators.curation import (
        by_reason, drop_accounting,
    )
    from documentai_spark.operators.packing import auto_shards
    from documentai_spark.plans.prepare import (
        pack_corpus, prepare_training_data,
    )

    weights = split_weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    # pack_shards is part of the config even though only the assignment
    # stage consumes it (r7 review): resuming with a different
    # --pack-shards would otherwise silently skip the assignment stage
    # and report a shard count the served parquet was never packed with
    if (lm_model is None) != (lm_threshold is None):
        raise ValueError("lm_model and lm_threshold go together")
    # lm_threshold is config like everything else: a resume with a
    # different (or newly absent/present) LM filter refuses instead of
    # serving a corpus curated under other rules. The MODEL identity is
    # the committed data/lm_frozen artifact (frozen, test-pinned fresh),
    # so the threshold is the only free parameter to record.
    config = {"splits": weights, "mixture": mixture_rates,
              "budget": budget, "seed": seed, "near_dedup": near_dedup,
              "benchmark": _benchmark_identity(benchmark),
              "pack_shards": pack_shards,
              "lm_threshold": lm_threshold}

    def guard(stage: str) -> dict | None:
        # pre-r8 manifests predate the lm_threshold key; absent means
        # the stage was committed with no LM filter, which is exactly
        # lm_threshold=None — keep those exports resumable instead of
        # refusing with an unsatisfiable error
        return _stage_guard(
            out_path, stage, config,
            "stage {name!r} in {out!r} was committed with a different "
            "configuration ({got} vs {config}); resuming would mix "
            "exports — use a fresh output directory or matching "
            "arguments", resume=resume, legacy={"lm_threshold": None})

    corpus_path = os.path.join(out_path, "corpus")
    assign_path = os.path.join(out_path, "assignment")

    t0 = time.time()
    skipped: list[str] = []

    # ---- stage 1: corpus ----
    prior = guard(PREPARE_CORPUS_STAGE)
    if prior:
        acc, acc_c = prior["acc"], prior["acc_c"]
        skipped.append("corpus")
        log(f"[prepare] corpus stage: skipped "
            f"({acc_c['rows']} rows committed)")
    else:
        # the guard cleared the corpus manifest; any corpus re-execution
        # also makes a prior assignment (packed from the OLD corpus)
        # stale — including every per-split pack manifest (r8:
        # split-granular commits) — so invalidate those BEFORE
        # re-executing too
        _clear_stage_manifest(out_path, PREPARE_ASSIGN_STAGE)
        for _s in weights:
            _clear_stage_manifest(out_path,
                                  f"{PREPARE_ASSIGN_STAGE}-{_s}")
        if not (near_dedup and resume):
            # a corpus recompute that may not reuse committed reps
            # (resume=False recomputes them; near_dedup=False never
            # builds them) must also invalidate a prior run's reps
            # manifest — its config records only LSH parameters,
            # nothing input-derived, so a later --resume would otherwise
            # silently join representatives built from the OLD input
            # (r7 review)
            _clear_stage_manifest(out_path, NEAR_REPS_STAGE)
        # the closure is the longest sub-stage — it commits separately
        # so a crash after it never re-runs the LSH chain
        near_reps = (_near_reps_stage(spark, in_path, out_path, log=log)
                     if near_dedup else None)
        obs_flags = Observation("prepare_flags")

        def observe_flags(df):
            surviving = F.col("keep")
            if benchmark is not None:
                surviving = surviving & ~F.col("contaminated")
            metrics = drop_accounting(df.columns)
            metrics.insert(2, F.sum(surviving.cast("int"))
                           .alias("surviving"))
            if mixture_rates:
                # per-source composition BEFORE thinning: indicator
                # sums over the known rate keys ride the same
                # Observation — no extra pass, no output re-read
                metrics += [
                    F.sum((surviving & (F.col("source") == s))
                          .cast("int")).alias(f"src_before_{s}")
                    for s in mixture_rates]
            return df.observe(obs_flags, *metrics)

        started = time.time()
        prep = prepare_training_data(
            spark.read.parquet(in_path), benchmark=benchmark,
            near_reps=near_reps, split_weights=weights,
            mixture_rates=mixture_rates, budget=budget,
            n_shards=pack_shards, seed=seed, observer=observe_flags,
            lm_model=lm_model, lm_threshold=lm_threshold)
        obs_corpus = Observation("prepare_corpus")
        corpus_metrics = [F.count(F.lit(1)).alias("rows")] + [
            F.sum((F.col("split") == s).cast("int")).alias(f"split_{s}")
            for s in weights]
        if mixture_rates:
            corpus_metrics += [
                F.sum((F.col("source") == s).cast("int"))
                 .alias(f"src_after_{s}")
                for s in mixture_rates]
        (prep.corpus.observe(obs_corpus, *corpus_metrics)
             .write.mode("overwrite").partitionBy("split")
             .parquet(corpus_path))
        acc = zero_nulls(obs_flags.get)
        acc_c = zero_nulls(obs_corpus.get)
        _stage_commit(out_path, PREPARE_CORPUS_STAGE, config, started,
                      acc=acc, acc_c=acc_c,
                      bytes_out=_dir_bytes(corpus_path))
        log(f"[prepare] corpus stage: {acc_c['rows']} rows, "
            f"{round(time.time() - started, 1)}s")

    n_shards = auto_shards(pack_shards, acc_c["rows"])

    def _line(acc_p: dict, seqs: dict) -> dict:
        line = {
            "rows": acc["rows"], "kept": acc["kept"],
            "dropped": acc["rows"] - acc["surviving"],
            "by_reason": by_reason(acc),
            "mixture_dropped": acc["surviving"] - acc_c["rows"],
            "splits": {s: acc_c[f"split_{s}"] for s in weights},
            "packed_docs": acc_p["rows"], "oversize": acc_p["oversize"],
            "sequences": seqs, "budget": budget,
            "pack_shards": n_shards,
            "sec": round(time.time() - t0, 2),
            "stages_skipped": skipped,
            "corpus": corpus_path, "assignment": assign_path}
        if mixture_rates:
            # {source: [surviving_before_thinning, in_corpus_after]};
            # '*' aggregates sources outside the rate map (kept at
            # default_rate=1.0, so before == after there)
            by_src = {s: [acc[f"src_before_{s}"],
                          acc_c[f"src_after_{s}"]]
                      for s in mixture_rates}
            by_src["*"] = [
                acc["surviving"] - sum(v[0] for v in by_src.values()),
                acc_c["rows"] - sum(v[1] for v in by_src.values())]
            line["mixture_by_source"] = by_src
        return line

    # ---- stage 2: assignment (split-granular since r8) ----
    # VERDICT r7 #5: corpus and assignment each committed ONCE, so at
    # 100 TB a kill during packing re-ran the ENTIRE assignment even
    # though the corpus stage was safe. Packing is deterministic per
    # (split, shard) — it depends only on (doc_id, n_tokens, budget,
    # n_shards), never on co-packed groups — so each split now packs
    # and commits under its own manifest (prepare-assignment-<split>);
    # a resume skips completed splits and the per-split outputs are
    # byte-identical to the single-pass pack. The aggregate
    # PREPARE_ASSIGN_STAGE manifest still commits last (the fast
    # full-replay path and the _line() accounting source).
    prior = guard(PREPARE_ASSIGN_STAGE)
    if prior:
        skipped.append("assignment")
        log("[prepare] assignment stage: skipped")
        return _line(prior["acc_p"], prior["seqs"])
    started = time.time()
    acc_p = {"rows": 0, "oversize": 0}
    seqs: dict = {}
    if not resume:
        # a non-resumed recompute must not inherit any prior run's
        # per-split pack data (the corpus stage already invalidated
        # their manifests)
        shutil.rmtree(assign_path, ignore_errors=True)
    for s in sorted(weights):
        stage_s = f"{PREPARE_ASSIGN_STAGE}-{s}"
        pm = guard(stage_s)
        if pm:
            log(f"[prepare] assignment split {s!r}: skipped "
                f"({pm['acc_p']['rows']} docs committed)")
        else:
            s_started = time.time()
            split_rows = acc_c.get(f"split_{s}", 0)
            split_dir = os.path.join(assign_path, f"split={s}")
            if split_rows == 0:
                # a write of nothing leaves no parquet files, so the
                # seqs re-read would die with UNABLE_TO_INFER_SCHEMA —
                # record the empty split instead
                n_seq = 0
                p_acc = {"rows": 0, "oversize": 0}
                shutil.rmtree(split_dir, ignore_errors=True)
            else:
                obs_pack = Observation(f"prepare_pack_{s}")
                assign_s = pack_corpus(
                    spark.read.parquet(corpus_path)
                         .filter(F.col("split") == s),
                    budget=budget, n_shards=n_shards, est_rows=split_rows)
                # write into the hive split=<s> leaf directly (the same
                # layout partitionBy produced); overwrite replaces only
                # this split's data on a mid-split resume
                (assign_s.observe(
                        obs_pack, F.count(F.lit(1)).alias("rows"),
                        F.sum(F.col("oversize").cast("int"))
                         .alias("oversize"))
                    .drop("split")
                    .write.mode("overwrite").parquet(split_dir))
                p_acc = zero_nulls(obs_pack.get)
                n_seq = (spark.read.parquet(split_dir)
                         .select("shard", "bin").distinct().count())
            pm = _stage_commit(out_path, stage_s, config, s_started,
                               acc_p=p_acc, n_sequences=n_seq)
            log(f"[prepare] assignment split {s!r}: {p_acc['rows']} "
                f"docs packed, {round(time.time() - s_started, 1)}s")
        for k in acc_p:
            acc_p[k] += pm["acc_p"][k]
        if pm["n_sequences"]:
            seqs[s] = pm["n_sequences"]
    _stage_commit(out_path, PREPARE_ASSIGN_STAGE, config, started,
                  acc_p=acc_p, seqs=seqs)
    log(f"[prepare] assignment stage: {acc_p['rows']} docs packed, "
        f"{round(time.time() - started, 1)}s")
    return _line(acc_p, seqs)
