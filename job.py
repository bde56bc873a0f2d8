"""spark-submit entry point for the extraction pipeline.

Usage (the north_rule deployment shape):

    spark-submit --master local[32] --py-files pipeline.zip job.py \\
        --input  /path/to/transcripts \\
        --output /path/to/extracted   \\
        [--gen-convs 2000]   # generate synthetic input first (FIXTURES.md)
        [--entities]         # include entity extraction stage
        [--resume]           # per-partition checkpoint resume (plans.checkpoint)

Exclusive modes (see --help): --bench [extract|classify] (timed write),
--classified [config.json] (S6 category-partitioned sink), --curate
(keep/drop flags + accounting; +--resume for the checkpointed loop;
+--near-dedup for the MinHash->Jaccard->closure near-dup chain with
separate near_dup drop accounting),
--stream-curate (availableNow streaming curation with stateful dedup and
an exactly-once sink), --prepare (end-to-end training-data export:
curate [-> decontaminate -> mixture] -> split -> per-split sequence
packing; writes <output>/corpus and <output>/assignment, both
partitioned by split). Prints one JSON line with rows, wall seconds,
and turns/sec.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from documentai_spark.sources.session import build_session  # noqa: E402


def check_driver_heap(heap_bytes: int,
                      min_bytes: int = 3 << 30) -> None:
    """Warn when the driver JVM heap is too small for the broadcast-using
    modes (--near-dedup / --prepare).

    build_session's ``spark.driver.memory=8g`` silently NO-OPS under
    spark-submit (the driver JVM is already up, default 1g), and the
    LSH-verify/closure joins legitimately AQE-broadcast their
    runtime-small sides — at a 1g driver that fails with "Not enough
    memory to build and broadcast" on corpora the plan itself handles
    fine (measured: 50k-doc ``--prepare --near-dedup`` OOMs at 1g, runs
    in 47 s at 8g). Detect the actual heap up front and say how to fix
    it (the predict_with_topk ResourceWarning pattern)."""
    import warnings

    if heap_bytes < min_bytes:
        warnings.warn(
            f"driver JVM heap is {heap_bytes / (1 << 30):.1f} GiB; "
            "--near-dedup/--prepare broadcast AQE-verified small join "
            "sides and need headroom — relaunch with spark-submit "
            "--driver-memory 8g (session-config driver.memory cannot "
            "apply after JVM start)", ResourceWarning, stacklevel=2)


_DEMO_CLASSIFY_CONFIG = {
    "billing": {"keywords": ["invoice", "amount", "total"],
                "max_pages": 3},
    "shipping": {"keywords": ["vessel", "port", "freight", "shipment"]},
    "credit": {"keywords": ["credit", "beneficiary"]},
}


def _accounting(metrics) -> dict:
    """The drop report --curate and --stream-curate print, from the
    ``curation.drop_accounting`` metrics."""
    from documentai_spark.operators.curation import by_reason
    from documentai_spark.plans.checkpoint import zero_nulls

    acc = zero_nulls(metrics)
    return {"rows": acc["rows"], "kept": acc["kept"],
            "dropped": acc["rows"] - acc["kept"],
            "by_reason": by_reason(acc)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="transcripts parquet dir")
    ap.add_argument("--output", required=True, help="output parquet dir")
    ap.add_argument("--master", default=None, help="spark master override")
    ap.add_argument("--gen-convs", type=int, default=0,
                    help="generate synthetic transcripts with N convs first")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--entities", action="store_true")
    ap.add_argument("--input-format", default="parquet",
                    choices=("parquet", "json", "csv"),
                    help="transcripts landing format (json/csv: explicit "
                         "canonical schema, permissive corrupt-row drop; "
                         "parquet/Iceberg is the at-scale path — "
                         "default-path runs only)")
    ap.add_argument("--resume", action="store_true",
                    help="checkpointed per-partition run with resume")
    ap.add_argument("--curate", action="store_true",
                    help="curation mode: --input is a documents table "
                         "(doc_id, text); writes every row with the "
                         "keep/audit flags partitioned by keep, and "
                         "prints the drop accounting")
    ap.add_argument("--near-dedup", action="store_true",
                    help="with --curate/--prepare: also run the "
                         "MinHash-LSH -> Jaccard-verify -> "
                         "cluster-closure near-dup chain; "
                         "non-representative near-duplicates are "
                         "dropped and accounted separately (near_dup) "
                         "from exact fingerprint dups. With --prepare "
                         "or --curate --resume the global "
                         "pairs+closure stage runs ONCE under its own "
                         "checkpoint manifest and the curation joins "
                         "the written reps table")
    ap.add_argument("--lm-threshold", type=float, default=None,
                    metavar="DIGITS",
                    help="with --curate (non-resume), --stream-curate, "
                         "or --prepare: score every doc under the "
                         "frozen bigram LM (data/lm_frozen) and also "
                         "drop docs whose mean cost exceeds this many "
                         "-log10-probability digits per bigram (e.g. "
                         "1.45); adds high_perplexity to the "
                         "accounting (exact integer-domain comparison; "
                         "--prepare records it in the resume config)")
    ap.add_argument("--prepare", action="store_true",
                    help="training-data export mode: --input is a "
                         "documents table; runs curate [-> decontaminate "
                         "-> mixture] -> split -> per-split sequence "
                         "packing, writes <output>/corpus and "
                         "<output>/assignment partitioned by split, and "
                         "prints the full drop accounting. Every stage "
                         "commits under a checkpoint manifest — with "
                         "--near-dedup the global pairs+closure too "
                         "(_checkpoints/stage-near-reps.json); with "
                         "--resume committed stages are skipped on "
                         "re-run")
    ap.add_argument("--benchmark", default=None, metavar="PARQUET_DIR",
                    help="with --prepare: eval-set parquet whose 8-gram "
                         "overlaps disqualify training documents")
    ap.add_argument("--splits", default="train:0.9,val:0.05,test:0.05",
                    metavar="NAME:W,...",
                    help="with --prepare: split names and weights")
    ap.add_argument("--mixture", default=None, metavar="SOURCE:RATE,...",
                    help="with --prepare: per-source keep rates "
                         "(deterministic thinning; unknown sources keep "
                         "everything)")
    ap.add_argument("--budget", type=int, default=2048,
                    help="with --prepare: per-sequence token budget")
    ap.add_argument("--pack-shards", type=int, default=16,
                    help="with --prepare: packing parallelism; size as "
                         "ceil(corpus_rows / 5e6) at scale (the "
                         "pack_sequences sizing rule)")
    ap.add_argument("--classified", nargs="?", const="default",
                    default=None, metavar="CONFIG_JSON",
                    help="classified-sink mode (S6): extraction + "
                         "3-technique vote + consecutive grouping, output "
                         "partitioned by category. Optional JSON config "
                         "path ({category: {keywords: [...], ...}}); "
                         "omit the value for a built-in demo config")
    ap.add_argument("--bench", nargs="?", const="extract", default=None,
                    choices=("extract", "classify"),
                    help="benchmark mode: warm the JVM + python workers "
                         "first, then time ONLY the pipeline write "
                         "(row count via Observation, no output re-read)."
                         " 'extract' (default) times the extraction "
                         "pipeline; 'classify' times extraction + the "
                         "3-technique vote chain (the r4 hottest path)")
    ap.add_argument("--stream-curate", action="store_true",
                    help="streaming curation mode: availableNow drain of "
                         "--input through the stateful first-wins dedup + "
                         "stateless quality/flag stack, exactly-once "
                         "parquet sink at --output")
    ap.add_argument("--checkpoint", default=None,
                    help="streaming checkpoint dir for --stream-curate "
                         "(default: <output>/_checkpoint)")
    ap.add_argument("--exact-verify", action="store_true",
                    help="with --stream-curate --near-dedup: re-verify "
                         "every near-dup flag against the TRUE shingle "
                         "Jaccard in the sink's batch domain — "
                         "estimator false-flags demote, surviving flags "
                         "are batch-true (only flagged docs pay)")
    ap.add_argument("--derive-surrogates", action="store_true",
                    help="rewrite a documents parquet whose doc_id is "
                         "NOT canonical-long (UUIDs, zero-padded "
                         "strings) with a collision-checked xxhash64 "
                         "long surrogate as doc_id (original kept as "
                         "doc_id_orig) — run once, then every other "
                         "mode (incl. --resume paths) works on the "
                         "derived copy unchanged")
    args = ap.parse_args()

    # mode flags are mutually exclusive (ADVICE r4: --classified --resume
    # used to silently ignore --resume); the one legal combination is
    # --curate --resume (the checkpointed curation loop)
    modes = [n for n, on in (("--bench", args.bench),
                             ("--curate", args.curate),
                             ("--prepare", args.prepare),
                             ("--classified", args.classified is not None),
                             ("--stream-curate", args.stream_curate),
                             ("--derive-surrogates",
                              args.derive_surrogates))
             if on]
    if len(modes) > 1:
        ap.error(f"mutually exclusive modes: {' '.join(modes)}")
    if args.resume and modes and modes[0] not in ("--curate",
                                                  "--prepare"):
        ap.error(f"--resume cannot be combined with {modes[0]}")
    if args.near_dedup and not (args.curate or args.prepare
                                or args.stream_curate):
        ap.error("--near-dedup requires --curate, --prepare, or "
                 "--stream-curate")
    if (args.benchmark or args.mixture) and not args.prepare:
        ap.error("--benchmark/--mixture are --prepare options")
    if args.exact_verify and not (args.stream_curate and args.near_dedup):
        ap.error("--exact-verify requires --stream-curate --near-dedup")
    if args.lm_threshold is not None and not (args.curate
                                              or args.stream_curate
                                              or args.prepare):
        ap.error("--lm-threshold requires --curate, --stream-curate, "
                 "or --prepare")
    if args.lm_threshold is not None and args.curate and args.resume:
        # the checkpointed CURATION bucket manifests do not record an
        # LM config, so a resume could silently mix LM-filtered and
        # unfiltered buckets — refuse, the r6 --near-dedup --resume
        # precedent. (--prepare --resume is fine: its stage config
        # records lm_threshold and refuses mismatches itself.)
        ap.error("--lm-threshold is not supported with --curate "
                 "--resume")
    if args.input_format != "parquet" and (modes or args.resume):
        ap.error("--input-format json/csv is only supported in the "
                 "default pipeline mode")

    if args.gen_convs:
        from documentai_spark.sources.transcripts import write_transcripts_parquet
        n = write_transcripts_parquet(args.input, seed=args.seed,
                                      n_convs=args.gen_convs)
        print(f"generated {n} turns at {args.input}", file=sys.stderr)

    spark = build_session("documentai-extract", master=args.master)
    if (args.near_dedup and not args.stream_curate) or args.prepare:
        # the heap guard covers the BROADCAST-using batch modes; the
        # streaming near-dedup holds per-bucket state executor-side
        check_driver_heap(int(spark.sparkContext._jvm.java.lang.Runtime
                              .getRuntime().maxMemory()))
    if args.bench:
        from pyspark.sql import functions as F
        from pyspark.sql.observation import Observation

        from documentai_spark.operators.extraction import extract_quality_udf
        from documentai_spark.plans.pipeline import (
            extraction_pipeline, read_transcripts,
        )
        src = read_transcripts(spark, args.input)
        # warm JVM codegen + EVERY python worker off the clock (one task
        # per shuffle partition so all workers import pandas/numpy now)
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        warm = spark.range(0, n_parts * 100, 1, n_parts) \
                    .selectExpr("repeat('warm up text ', id % 5) as text")
        warm.select(extract_quality_udf("text").alias("x")) \
            .write.format("noop").mode("overwrite").save()
        obs = Observation("rows")
        t0 = time.time()
        df = extraction_pipeline(src, include_entities=args.entities)
        if args.bench == "classify":
            from documentai_spark.operators.classify import (
                ClassifierConfig, classify_with_vote,
            )
            df = classify_with_vote(df, ClassifierConfig.compile(
                _DEMO_CLASSIFY_CONFIG))
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        df.write.mode("overwrite").parquet(args.output)
        wall = time.time() - t0
        rows = obs.get["n"]
        print(json.dumps({"rows": rows, "sec": round(wall, 2),
                          "leg": args.bench,
                          "turns_per_sec": round(rows / wall, 1),
                          "master": spark.sparkContext.master,
                          "shuffle_partitions": spark.conf.get(
                              "spark.sql.shuffle.partitions"),
                          "output": args.output}))
        spark.stop()
        return

    if args.derive_surrogates:
        from pyspark.sql import functions as F
        from pyspark.sql.observation import Observation

        from documentai_spark.functions.ids import (find_surrogate_salt,
                                                    with_surrogate_id)
        t0 = time.time()
        df = spark.read.parquet(args.input)
        if "doc_id" not in df.columns:
            ap.error("--derive-surrogates needs a doc_id column")
        if "doc_id_orig" in df.columns:
            ap.error("--derive-surrogates: input already carries "
                     "doc_id_orig — surrogates were already derived; "
                     "re-deriving would stack renames")
        # one probe for the accounting line, then the derivation reuses
        # the found salt (no second probe)
        salt = find_surrogate_salt(df, "doc_id")
        obs = Observation("surrogate_rows")
        out = with_surrogate_id(
            df.withColumnRenamed("doc_id", "doc_id_orig"),
            "doc_id_orig", out_col="doc_id", salt=salt)
        (out.observe(obs, F.count(F.lit(1)).alias("rows"))
            .write.mode("overwrite").parquet(args.output))
        print(json.dumps({"rows": obs.get["rows"], "salt": salt,
                          "sec": round(time.time() - t0, 2),
                          "output": args.output}))
        spark.stop()
        return

    if args.stream_curate:
        from documentai_spark.operators.curation import drop_accounting
        from documentai_spark.streaming.pipeline import (
            start_to_parquet, streaming_curate,
        )
        if os.path.isfile(args.input):
            # Spark's file stream source only accepts directories (the
            # continuously-landing shape this mode models)
            ap.error("--stream-curate needs a DIRECTORY of parquet files "
                     f"as --input, got a single file: {args.input}")
        schema = spark.read.parquet(args.input).schema
        id_cols = (("doc_id",) if "doc_id" in schema.names
                   else ("conv_id", "turn_idx"))
        ckpt = args.checkpoint or os.path.join(args.output, "_checkpoint")
        # Curation-REGIME guard (r8 review): restarting an existing
        # checkpoint with a different --near-dedup/--exact-verify/
        # --lm-threshold silently mixes regimes — new batches carry a
        # different schema and keep rule than the already-written
        # partitions, and the end-of-run accounting reads an arbitrary
        # footer. Record the regime next to the output on first start
        # and refuse mismatched resumes (the prepare stage-config
        # pattern applied to the streaming surface).
        regime = {"near_dedup": args.near_dedup,
                  "exact_verify": args.exact_verify,
                  "lm_threshold": args.lm_threshold}
        marker = os.path.join(args.output, "_stream_curate_config.json")
        if os.path.exists(marker):
            with open(marker) as f:
                prior_regime = json.load(f)
            prior_regime.setdefault("lm_threshold", None)
            if prior_regime != regime:
                raise ValueError(
                    f"output {args.output!r} was written under a "
                    f"different streaming curation regime "
                    f"({prior_regime} vs {regime}); resuming would mix "
                    "schemas and keep rules across batch partitions — "
                    "use a fresh output+checkpoint or matching flags")
        else:
            os.makedirs(args.output, exist_ok=True)
            with open(marker, "w") as f:
                json.dump(regime, f)
        lm_kw = {}
        if args.lm_threshold is not None:
            from documentai_spark.operators.curation import load_lm_model
            lm_kw = {"lm_model": load_lm_model(),
                     "lm_threshold": args.lm_threshold}
        t0 = time.time()
        stream = spark.readStream.schema(schema).parquet(args.input)
        if args.near_dedup:
            # stateful LSH band buckets + signature-estimated verify
            # (streaming/near_dedup.py); subsumes exact first-wins dedup
            # (an exact duplicate estimates 1.0 against its first copy),
            # so the fingerprint state op is not ALSO run — one stateful
            # operator per query is a Spark limit anyway
            from documentai_spark.streaming.near_dedup import (
                near_curate_finish, start_near_dedup_to_parquet,
                streaming_near_dup_verdicts,
            )
            if "doc_id" not in schema.names:
                ap.error("--stream-curate --near-dedup needs a doc_id "
                         "column (the long-label near-dedup contract)")
            q = start_near_dedup_to_parquet(
                streaming_near_dup_verdicts(stream),
                args.output, ckpt, finish=near_curate_finish(**lm_kw),
                exact_verify=args.exact_verify)
        else:
            q = start_to_parquet(streaming_curate(stream,
                                                  id_cols=id_cols,
                                                  **lm_kw),
                                 args.output, ckpt)
        q.awaitTermination()
        out = spark.read.parquet(args.output)
        acc = out.agg(*drop_accounting(out.columns)).first().asDict()
        print(json.dumps({**_accounting(acc),
                          "sec": round(time.time() - t0, 2),
                          "checkpoint": ckpt, "output": args.output}))
        spark.stop()
        return

    if args.curate and args.resume:
        from documentai_spark.plans.checkpoint import (
            run_checkpointed_curation,
        )
        t0 = time.time()
        stats = run_checkpointed_curation(spark, args.input, args.output,
                                          near_dedup=args.near_dedup)
        wall = time.time() - t0
        line = {"rows": stats["rows_out"],
                "kept": stats["kept"],
                "buckets_done": stats["buckets_done"],
                "buckets_skipped": stats["buckets_skipped"],
                "sec": round(wall, 2),
                "output": args.output}
        if args.near_dedup:
            line["near_dup"] = stats["near_dup"]
        print(json.dumps(line))
        spark.stop()
        return

    if args.prepare:
        # the two-stage export body lives in plans.checkpoint as
        # manifest-committed stages (r7) so --prepare --resume skips
        # committed work; resume=False recomputes every stage
        from documentai_spark.plans.checkpoint import run_prepare_stages

        def _rates(spec: str) -> dict[str, float]:
            # friendly failures: a trailing comma / missing weight would
            # otherwise surface as a bare float('') traceback after the
            # Spark session is already up
            out = {}
            for part in spec.split(","):
                if not part.strip():
                    continue  # tolerate a trailing comma
                name, sep, w = part.partition(":")
                name = name.strip()
                try:
                    weight = float(w)
                except ValueError:
                    ap.error(f"bad rate token {part!r} in {spec!r} — "
                             f"expected name:weight (e.g. train:0.9)")
                if not sep or not name or weight <= 0:
                    ap.error(f"bad rate token {part!r} in {spec!r} — "
                             f"name and a positive weight are required")
                out[name] = weight
            if not out:
                ap.error(f"empty rate spec {spec!r}")
            return out

        weights = _rates(args.splits)
        mixture = _rates(args.mixture) if args.mixture else None
        bench_df = (spark.read.parquet(args.benchmark)
                    if args.benchmark else None)
        lm_model = None
        if args.lm_threshold is not None:
            from documentai_spark.operators.curation import load_lm_model
            lm_model = load_lm_model()
        line = run_prepare_stages(
            spark, args.input, args.output, benchmark=bench_df,
            near_dedup=args.near_dedup, split_weights=weights,
            mixture_rates=mixture, budget=args.budget,
            pack_shards=args.pack_shards, seed=args.seed,
            resume=args.resume,
            lm_model=lm_model, lm_threshold=args.lm_threshold,
            log=lambda *a: print(*a, file=sys.stderr))
        print(json.dumps(line))
        spark.stop()
        return

    if args.curate:
        from pyspark.sql.observation import Observation

        from documentai_spark.operators.curation import (
            curate_documents, drop_accounting, load_lm_model,
            with_lm_perplexity,
        )
        t0 = time.time()
        docs = spark.read.parquet(args.input)
        if args.lm_threshold is not None:
            docs = with_lm_perplexity(docs, load_lm_model(),
                                      threshold=args.lm_threshold)
        out = curate_documents(docs, near_dedup=args.near_dedup)
        # drop accounting rides the write job itself (Observation) —
        # no output re-read, and `keep` stays boolean here (the hive
        # partition directory stringifies it on disk)
        obs = Observation("curation")
        out = out.observe(obs, *drop_accounting(out.columns))
        (out.write.mode("overwrite").partitionBy("keep")
            .parquet(args.output))
        print(json.dumps({**_accounting(obs.get),
                          "sec": round(time.time() - t0, 2),
                          "output": args.output}))
        spark.stop()
        return

    if args.classified:
        from documentai_spark.operators.classify import ClassifierConfig
        from documentai_spark.plans.pipeline import run_classified
        if args.classified == "default":
            raw = _DEMO_CLASSIFY_CONFIG
        else:
            with open(args.classified) as f:
                raw = json.load(f)
        t0 = time.time()
        run_classified(spark, args.input, args.output,
                       ClassifierConfig.compile(raw))
        out = spark.read.parquet(args.output)
        rows = out.count()
        cats = {r["category"]: r["count"] for r in
                out.groupBy("category").count().collect()}
        wall = time.time() - t0
        print(json.dumps({"rows": rows, "sec": round(wall, 2),
                          "turns_per_sec": round(rows / wall, 1),
                          "categories": cats, "output": args.output}))
        spark.stop()
        return

    t0 = time.time()
    if args.resume:
        from documentai_spark.plans.checkpoint import run_checkpointed
        stats = run_checkpointed(spark, args.input, args.output,
                                 include_entities=args.entities)
        rows = stats["rows_out"]
    else:
        from documentai_spark.plans.pipeline import run_pipeline
        run_pipeline(spark, args.input, args.output,
                     input_format=args.input_format,
                     include_entities=args.entities)
        rows = spark.read.parquet(args.output).count()
    wall = time.time() - t0
    print(json.dumps({"rows": rows, "sec": round(wall, 2),
                      "turns_per_sec": round(rows / wall, 1),
                      "output": args.output}))
    spark.stop()


if __name__ == "__main__":
    main()
