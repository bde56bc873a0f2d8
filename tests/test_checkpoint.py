"""Resume-idempotency test (FIXTURES.md §4 test 5): kill after k
partitions, resume, final table equal to a single-shot run; lineage
metrics consistent (no double-count)."""

from __future__ import annotations

import pytest

from documentai_spark.plans.checkpoint import read_manifest, run_checkpointed
from documentai_spark.plans.pipeline import extraction_pipeline


def _collect_sorted(spark, path):
    df = spark.read.parquet(f"{path}/bucket=*")
    return sorted(df.collect(), key=lambda r: (r.conv_id, r.turn_idx))


def _crash_curate_on(monkeypatch, n: int) -> None:
    """Make ``operators.curation.curate_documents`` raise on its call
    number ``n``: the checkpointed curation loop calls it once per
    pending bucket, in bucket order, so buckets before the ``n``-th
    commit and the run dies there."""
    import documentai_spark.operators.curation as cur_mod

    real = cur_mod.curate_documents
    calls = []

    def curate(*a, **k):
        calls.append(1)
        if len(calls) >= n:
            raise RuntimeError("killed")
        return real(*a, **k)

    monkeypatch.setattr(cur_mod, "curate_documents", curate)


def test_kill_and_resume_idempotent(spark, transcripts_path, tmp_path):
    out_partial = str(tmp_path / "out_resume")
    out_oneshot = str(tmp_path / "out_oneshot")

    # phase 1: "killed" after 3 of 8 buckets
    s1 = run_checkpointed(spark, transcripts_path, out_partial,
                          n_buckets=8, max_buckets=3, log=lambda *a: None)
    assert s1["buckets_done"] == 3
    assert len(read_manifest(out_partial)) == 3

    # phase 2: resume completes the rest, skips the done ones
    s2 = run_checkpointed(spark, transcripts_path, out_partial,
                          n_buckets=8, log=lambda *a: None)
    assert s2["buckets_skipped"] == 3
    assert s2["buckets_done"] == 5
    manifest = read_manifest(out_partial)
    assert len(manifest) == 8
    assert all(m["status"] == "done" for m in manifest.values())

    # single-shot reference run
    df = extraction_pipeline(spark.read.parquet(transcripts_path))
    one = sorted(df.collect(), key=lambda r: (r.conv_id, r.turn_idx))
    resumed = _collect_sorted(spark, out_partial)
    assert len(resumed) == len(one)
    for a, b in zip(resumed, one):
        assert a.conv_id == b.conv_id and a.turn_idx == b.turn_idx
        assert a.extracted_text == b.extracted_text
        assert a.verdict == b.verdict

    # lineage: no double count after resume
    assert s2["rows_out"] == len(one)
    assert sum(m["rows_out"] for m in manifest.values()) == len(one)
    # conversations never straddle buckets
    assert sum(m["rows_in"] for m in manifest.values()) == len(one)


def test_rerun_done_is_noop(spark, transcripts_path, tmp_path):
    out = str(tmp_path / "out_noop")
    s1 = run_checkpointed(spark, transcripts_path, out, n_buckets=4,
                          log=lambda *a: None)
    s2 = run_checkpointed(spark, transcripts_path, out, n_buckets=4,
                          log=lambda *a: None)
    assert s2["buckets_done"] == 0 and s2["buckets_skipped"] == 4
    assert s2["rows_out"] == s1["rows_out"]


def test_lineage_table(spark, transcripts_path, tmp_path):
    from documentai_spark.plans.checkpoint import lineage_table
    out = str(tmp_path / "out_lineage")
    run_checkpointed(spark, transcripts_path, out, n_buckets=4,
                     log=lambda *a: None)
    lt = lineage_table(spark, out)
    rows = lt.collect()
    assert len(rows) == 4
    assert all(r.status == "done" and r.rows_out == r.rows_in for r in rows)
    assert sum(r.bytes_out for r in rows) > 0
    assert all(r.finished >= r.started for r in rows)


def test_read_transcripts_formats_agree(spark, tmp_path):
    """json/csv landing formats read through the explicit canonical
    schema must yield exactly the parquet rows (including timestamps and
    newline-bearing text); malformed rows drop instead of failing."""
    import csv
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from documentai_spark.plans.pipeline import read_transcripts
    from documentai_spark.sources.transcripts import gen_rows

    rows = list(gen_rows(7, 12))
    assert any("\n" in r["text"] for r in rows)  # multiLine really needed

    pdir = str(tmp_path / "p"); jdir = str(tmp_path / "j")
    cdir = str(tmp_path / "c")
    for d in (pdir, jdir, cdir):
        __import__("os").makedirs(d)
    cols = {k: [r[k] for r in rows] for k in rows[0]}
    pq.write_table(pa.Table.from_pydict(cols), pdir + "/part-0.parquet")
    with open(jdir + "/part-0.json", "w") as f:
        for r in rows:
            rec = dict(r, ts=r["ts"].isoformat())
            f.write(_json.dumps(rec) + "\n")
        f.write('{"broken": \n')           # malformed JSON line
    with open(cdir + "/part-0.csv", "w", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_ALL)
        w.writerow(list(rows[0]))
        for r in rows:
            w.writerow([r["conv_id"], r["turn_idx"], r["role"],
                        r["text"], r["tool"], r["ts"].isoformat()])

    def canon(df):
        return sorted((r.conv_id, r.turn_idx, r.role, r.text, r.tool,
                       r.ts) for r in df.collect())

    base = canon(read_transcripts(spark, pdir))
    assert len(base) == len(rows)
    assert canon(read_transcripts(spark, jdir, fmt="json")) == base
    assert canon(read_transcripts(spark, cdir, fmt="csv")) == base

    import pytest

    with pytest.raises(ValueError, match="unsupported"):
        read_transcripts(spark, pdir, fmt="avro")


def test_curation_checkpoint_resume_and_global_dedup(spark, tmp_path,
                                                     monkeypatch):
    """Checkpointed curation: fingerprint-hash bucketing keeps the
    per-bucket dedup globally exact (flags equal the single-job
    operator's), and a killed run resumes by skipping done buckets."""
    from documentai_spark.operators.curation import curate_documents
    from documentai_spark.plans.checkpoint import (
        run_checkpointed_curation,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "docs_in")
    docs.write.parquet(in_dir)
    out_dir = str(tmp_path / "cur_out")

    # a run that crashes in the 3rd bucket job, then resume
    _crash_curate_on(monkeypatch, 3)
    with pytest.raises(RuntimeError, match="killed"):
        run_checkpointed_curation(spark, in_dir, out_dir, n_buckets=4,
                                  log=lambda *_: None)
    monkeypatch.undo()
    assert len(read_manifest(out_dir)) == 2
    s2 = run_checkpointed_curation(spark, in_dir, out_dir, n_buckets=4,
                                   log=lambda *_: None)
    assert s2["buckets_skipped"] == 2 and s2["buckets_done"] == 2

    got = {r.doc_id: (r.keep, r.is_dup) for r in
           spark.read.parquet(out_dir + "/bucket=*").collect()}
    want = {r.doc_id: (r.keep, r.is_dup) for r in
            curate_documents(docs).collect()}
    assert got == want and len(got) == docs.count()
    assert s2["kept"] == sum(1 for k, _ in got.values() if k)

    # third run: everything skips, totals unchanged
    s3 = run_checkpointed_curation(spark, in_dir, out_dir, n_buckets=4,
                                   log=lambda *_: None)
    assert s3["buckets_skipped"] == 4 and s3["rows_out"] == s2["rows_out"]
    assert s3["kept"] == s2["kept"]


def test_near_dedup_checkpoint_resume_byte_equals_single_run(spark,
                                                             tmp_path,
                                                             monkeypatch):
    """VERDICT r6 #2: resumable near-dedup. Phase 0 commits the GLOBAL
    pairs+closure reps table under its own stage manifest; the
    per-bucket loop joins it. A killed run resumes (reps stage and done
    buckets both skipped, not recomputed) and the final flag set
    byte-equals the non-resumed near_dedup=True operator run —
    including a near-dup cluster whose members land in DIFFERENT
    fingerprint buckets (the case a per-bucket closure would miss)."""
    import pytest
    from pyspark.sql import functions as F

    from documentai_spark.operators.curation import curate_documents
    from documentai_spark.plans.checkpoint import (
        read_stage_manifest, run_checkpointed_curation,
    )

    base = ("the quick brown fox jumps over the lazy dog and then it "
            "runs far away into the deep woods where it was happy to "
            "rest for a while before returning to the warm den")
    other = ("completely different content about spark plans and "
             "shuffles and broadcast joins in a distributed engine "
             "that keeps the optimizer busy for a good long while")
    rows = ([(1, base), (2, base),            # exact dups (co-bucket)
             (3, base + " extra"),            # near dup, OWN fingerprint
             (4, base + " extra tail"),       # transitive near dup
             (5, other)]
            + [(10 + i, " ".join(f"tok{i}a{j}" for j in range(25)))
               for i in range(8)])   # disjoint vocab: no accidental dups
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    in_dir = str(tmp_path / "nd_in")
    docs.write.parquet(in_dir)
    out_dir = str(tmp_path / "nd_out")

    kw = dict(jaccard_threshold=0.7, min_tokens=5, min_confidence=0.0,
              min_stopword_ratio=0.0)

    # a run that crashes in the 3rd bucket job: reps stage + 2 of 4
    # buckets commit
    _crash_curate_on(monkeypatch, 3)
    with pytest.raises(RuntimeError, match="killed"):
        run_checkpointed_curation(spark, in_dir, out_dir, n_buckets=4,
                                  near_dedup=True,
                                  log=lambda *_: None, **kw)
    monkeypatch.undo()
    assert len(read_manifest(out_dir)) == 2
    rep_m = read_stage_manifest(out_dir, "near-reps")
    assert rep_m and rep_m["status"] == "done"
    # one label per DISTINCT content (r7: only exact-dup representatives
    # are banded/closed — doc 2 inherits through the bucket is_dup
    # window), not per doc
    assert rep_m["rows_out"] == len(rows) - 1

    # resume: reps stage skipped (same manifest, not recomputed)
    s2 = run_checkpointed_curation(spark, in_dir, out_dir, n_buckets=4,
                                   near_dedup=True,
                                   log=lambda *_: None, **kw)
    assert s2["buckets_skipped"] == 2 and s2["buckets_done"] == 2
    assert read_stage_manifest(out_dir, "near-reps")["finished"] == \
        rep_m["finished"]

    got = {r.doc_id: (r.keep, r.is_dup, r.is_near_dup) for r in
           spark.read.parquet(out_dir + "/bucket=*").collect()}
    want = {r.doc_id: (r.keep, r.is_dup, r.is_near_dup) for r in
            curate_documents(docs, near_dedup=True, **kw).collect()}
    assert got == want and len(got) == len(rows)
    assert got[2] == (False, True, False)     # exact attribution
    assert got[3][2] and got[4][2]            # cross-bucket near dups
    assert s2["near_dup"] == 2
    assert s2["kept"] == sum(1 for k, _, _ in got.values() if k)

    # third run: everything skips, totals unchanged
    s3 = run_checkpointed_curation(spark, in_dir, out_dir, n_buckets=4,
                                   near_dedup=True,
                                   log=lambda *_: None, **kw)
    assert s3["buckets_skipped"] == 4 and s3["near_dup"] == s2["near_dup"]

    # mode-mismatch guard: resuming the same dir WITHOUT near-dedup
    # would mix schemas — refuse loudly
    with pytest.raises(ValueError, match="near_dedup"):
        run_checkpointed_curation(spark, in_dir, out_dir, n_buckets=4,
                                  log=lambda *_: None, **kw)


def _crash_pack_after(monkeypatch, n_ok: int) -> None:
    """Make ``plans.prepare.pack_corpus`` raise on its call number
    ``n_ok + 1``: the prepare corpus stage calls it once while building
    its plan (before the corpus write), then the assignment stage once
    per non-empty split, in sorted split order."""
    import documentai_spark.plans.prepare as prep_mod

    real = prep_mod.pack_corpus
    calls = []

    def pack(*a, **k):
        calls.append(1)
        if len(calls) > n_ok:
            raise RuntimeError("killed")
        return real(*a, **k)

    monkeypatch.setattr(prep_mod, "pack_corpus", pack)


def test_prepare_stage_resume(spark, tmp_path, monkeypatch):
    """r7: the --prepare export body is manifest-committed stages. A
    crash after stage 1 (the first assignment pack raises) resumes
    into stage 2 only;
    a fully-committed export resumes as a pure report replay (both
    stages skipped, line equals the original); a config change on
    resume refuses; resume=False recomputes ignoring manifests."""
    import pytest

    from documentai_spark.plans.checkpoint import (
        read_stage_manifest, run_prepare_stages,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "prep_in")
    docs.write.parquet(in_dir)
    out = str(tmp_path / "prep_out")
    kw = dict(budget=120, pack_shards=4, log=lambda *_: None)

    # crash: stage 1 commits, stage 2 dies at its first pack
    _crash_pack_after(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="killed"):
        run_prepare_stages(spark, in_dir, out, resume=True, **kw)
    monkeypatch.undo()
    assert read_stage_manifest(out, "prepare-corpus")["status"] == "done"
    assert read_stage_manifest(out, "prepare-assignment") is None

    # resume: corpus skipped, assignment runs; line is complete
    r2 = run_prepare_stages(spark, in_dir, out, resume=True, **kw)
    assert r2["stages_skipped"] == ["corpus"]
    assert "incomplete" not in r2 and r2["packed_docs"] > 0

    # non-resumed reference run in a fresh dir: identical accounting
    ref = run_prepare_stages(spark, in_dir, str(tmp_path / "ref_out"),
                             resume=False, **kw)
    for k in ("rows", "kept", "dropped", "by_reason", "splits",
              "packed_docs", "oversize", "sequences", "pack_shards"):
        assert r2[k] == ref[k], k

    # full replay: both stages skip, same accounting, no recompute
    r3 = run_prepare_stages(spark, in_dir, out, resume=True, **kw)
    assert r3["stages_skipped"] == ["corpus", "assignment"]
    assert r3["sequences"] == r2["sequences"]
    assert r3["sec"] < 1.0           # pure manifest read

    # config mismatch refuses instead of mixing exports
    with pytest.raises(ValueError, match="different configuration"):
        run_prepare_stages(spark, in_dir, out, resume=True, budget=999,
                           pack_shards=4, log=lambda *_: None)
    # pack_shards is config too (r7 review): a different --pack-shards
    # must not silently skip the assignment stage and report a shard
    # count the served parquet was never packed with
    with pytest.raises(ValueError, match="different configuration"):
        run_prepare_stages(spark, in_dir, out, resume=True, budget=120,
                           pack_shards=8, log=lambda *_: None)

    # resume=False ignores manifests and recomputes (manifests rewritten)
    before = read_stage_manifest(out, "prepare-assignment")["finished"]
    r4 = run_prepare_stages(spark, in_dir, out, resume=False, **kw)
    assert r4["stages_skipped"] == [] and r4["sequences"] == r2["sequences"]
    assert read_stage_manifest(out, "prepare-assignment")["finished"] > before


def test_prepare_assignment_split_granular_resume(spark, tmp_path,
                                                  monkeypatch):
    """r8 (VERDICT r7 #5): the assignment stage commits per SPLIT — a
    crash mid-packing (the second split's pack raises) resumes past the
    completed splits' packs instead of re-running the whole
    assignment, and the resumed export's corpus + assignment row sets
    equal a single-run export's exactly (packing is deterministic per
    (split, shard))."""
    from documentai_spark.plans.checkpoint import (
        read_stage_manifest, run_prepare_stages,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "sg_in")
    docs.write.parquet(in_dir)
    out = str(tmp_path / "sg_out")
    kw = dict(budget=120, pack_shards=4, log=lambda *_: None)

    # crash: corpus commits, then only ONE split packs
    _crash_pack_after(monkeypatch, 2)
    with pytest.raises(RuntimeError, match="killed"):
        run_prepare_stages(spark, in_dir, out, resume=True, **kw)
    monkeypatch.undo()
    done = [s for s in ("test", "train", "val") if read_stage_manifest(
        out, f"prepare-assignment-{s}")]
    assert len(done) == 1, done
    assert read_stage_manifest(out, "prepare-assignment") is None
    first = read_stage_manifest(out, f"prepare-assignment-{done[0]}")
    assert first["status"] == "done"

    # resume: the committed split skips (manifest untouched), the rest
    # pack, the aggregate manifest commits
    r2 = run_prepare_stages(spark, in_dir, out, resume=True, **kw)
    assert "incomplete" not in r2
    assert r2["stages_skipped"] == ["corpus"]
    assert read_stage_manifest(
        out, f"prepare-assignment-{done[0]}")["finished"] == \
        first["finished"]
    assert read_stage_manifest(out, "prepare-assignment")["status"] \
        == "done"

    # equality vs a fresh single-run export: corpus AND assignment
    ref_out = str(tmp_path / "sg_ref")
    ref = run_prepare_stages(spark, in_dir, ref_out, resume=False, **kw)
    for k in ("rows", "kept", "by_reason", "splits", "packed_docs",
              "oversize", "sequences", "pack_shards"):
        assert r2[k] == ref[k], k

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path)
                      .select("split", "doc_id", "shard", "bin",
                              "n_tokens", "oversize").collect())

    assert rows(out + "/assignment") == rows(ref_out + "/assignment")


def test_prepare_resume_benchmark_identity(spark, tmp_path):
    """r7 ADVICE: the stage config used to record only `benchmark is
    not None`, so resuming with a DIFFERENT --benchmark parquet (same
    presence) silently skipped the corpus stage and served
    decontamination computed against the old eval set. The config now
    records a content identity (rows + xxhash64 fold + columns): an
    equivalent benchmark resumes cleanly, a different one refuses."""
    import pytest

    from documentai_spark.plans.checkpoint import run_prepare_stages

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "bid_in")
    docs.write.parquet(in_dir)
    out = str(tmp_path / "bid_out")
    kw = dict(budget=120, pack_shards=4, log=lambda *_: None)

    bench_a = docs.select("text").limit(5)
    bench_a_path = str(tmp_path / "bench_a")
    bench_a.write.parquet(bench_a_path)
    bench_b = docs.select("text").orderBy("doc_id").limit(8)

    r1 = run_prepare_stages(spark, in_dir, out, resume=True,
                            benchmark=spark.read.parquet(bench_a_path),
                            **kw)
    assert "contaminated" in r1["by_reason"]

    # equivalent benchmark (re-read of the same parquet): pure replay
    r2 = run_prepare_stages(spark, in_dir, out, resume=True,
                            benchmark=spark.read.parquet(bench_a_path),
                            **kw)
    assert r2["stages_skipped"] == ["corpus", "assignment"]

    # different eval set, same presence: refused, not silently skipped
    with pytest.raises(ValueError, match="different configuration"):
        run_prepare_stages(spark, in_dir, out, resume=True,
                           benchmark=bench_b, **kw)
    # dropping the benchmark entirely still refuses too
    with pytest.raises(ValueError, match="different configuration"):
        run_prepare_stages(spark, in_dir, out, resume=True, **kw)


def test_prepare_stage_resume_with_near_dedup_reps(spark, tmp_path):
    """--prepare --resume --near-dedup: the global pairs+closure stage
    commits under its own manifest, so a kill AFTER the reps stage but
    BEFORE the corpus write resumes without re-running the LSH chain,
    and the final accounting equals the non-resumed near-dedup export."""
    from documentai_spark.plans.checkpoint import (
        _near_reps_stage, read_stage_manifest, run_prepare_stages,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "ndp_in")
    docs.write.parquet(in_dir)
    out = str(tmp_path / "ndp_out")

    # kill analog: only the reps stage committed
    _near_reps_stage(spark, in_dir, out, log=lambda *_: None)
    rep_m = read_stage_manifest(out, "near-reps")
    assert rep_m["status"] == "done"

    r = run_prepare_stages(spark, in_dir, out, near_dedup=True,
                           resume=True, budget=120, pack_shards=4,
                           log=lambda *_: None)
    # reps NOT recomputed (same manifest), both stages ran fresh
    assert read_stage_manifest(out, "near-reps")["finished"] == \
        rep_m["finished"]
    assert r["stages_skipped"] == []

    ref = run_prepare_stages(spark, in_dir, str(tmp_path / "ndp_ref"),
                             near_dedup=True, resume=False, budget=120,
                             pack_shards=4, log=lambda *_: None)
    for k in ("rows", "kept", "by_reason", "splits", "packed_docs",
              "sequences"):
        assert r[k] == ref[k], k
    assert r["by_reason"]["near_dup"] == ref["by_reason"]["near_dup"]


def test_prepare_near_dedup_reps_reused_after_crash(spark, tmp_path,
                                                    monkeypatch):
    """Every --prepare --near-dedup export stages the closure, resumed
    or not: a resume=False run that crashes inside the corpus stage has
    already committed the near-reps stage, and a --resume run then
    skips it (same manifest) and matches a clean export's accounting."""
    from documentai_spark.plans.checkpoint import (
        read_stage_manifest, run_prepare_stages,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "rc_in")
    docs.write.parquet(in_dir)
    out = str(tmp_path / "rc_out")
    kw = dict(near_dedup=True, budget=120, pack_shards=4,
              log=lambda *_: None)

    # crash before the corpus write (the corpus plan's pack call)
    _crash_pack_after(monkeypatch, 0)
    with pytest.raises(RuntimeError, match="killed"):
        run_prepare_stages(spark, in_dir, out, resume=False, **kw)
    monkeypatch.undo()
    rep_m = read_stage_manifest(out, "near-reps")
    assert rep_m["status"] == "done"
    assert read_stage_manifest(out, "prepare-corpus") is None

    r = run_prepare_stages(spark, in_dir, out, resume=True, **kw)
    assert read_stage_manifest(out, "near-reps")["finished"] == \
        rep_m["finished"]
    assert r["stages_skipped"] == []

    ref = run_prepare_stages(spark, in_dir, str(tmp_path / "rc_ref"),
                             resume=False, **kw)
    for k in ("rows", "kept", "dropped", "by_reason", "splits",
              "packed_docs", "oversize", "sequences"):
        assert r[k] == ref[k], k


def test_prepare_recompute_invalidates_manifests_first(spark, tmp_path,
                                                       monkeypatch):
    """r7 review: a resume=False recompute (or any stage re-execution)
    must remove the prior 'done' manifests BEFORE touching data — a
    crash mid-recompute otherwise leaves a stale manifest standing over
    half-overwritten output, and a later --resume would serve the
    corruption."""
    import pytest

    import documentai_spark.plans.prepare as prep_mod
    from documentai_spark.plans.checkpoint import (
        _near_reps_stage, read_stage_manifest, run_prepare_stages,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "inv_in")
    docs.write.parquet(in_dir)
    out = str(tmp_path / "inv_out")
    kw = dict(budget=120, pack_shards=4, log=lambda *_: None)

    run_prepare_stages(spark, in_dir, out, resume=False, **kw)
    assert read_stage_manifest(out, "prepare-corpus")["status"] == "done"
    # a prior resumed near-dedup run's reps stage is committed too —
    # its config records only LSH parameters, nothing input-derived,
    # so a non-_near_reps_stage recompute must invalidate it as well
    _near_reps_stage(spark, in_dir, out, log=lambda *_: None)
    assert read_stage_manifest(out, "near-reps")["status"] == "done"

    # crash analog: the recompute dies inside stage 1
    def boom(*a, **k):
        raise RuntimeError("killed mid-recompute")
    monkeypatch.setattr(prep_mod, "prepare_training_data", boom)
    with pytest.raises(RuntimeError, match="killed"):
        run_prepare_stages(spark, in_dir, out, resume=False, **kw)
    # ALL manifests are gone: a later --resume re-runs every stage
    # instead of skipping over possibly-corrupt or input-stale data
    # (r7 review: the reps stage used to survive the non-resume path)
    assert read_stage_manifest(out, "prepare-corpus") is None
    assert read_stage_manifest(out, "prepare-assignment") is None
    assert read_stage_manifest(out, "near-reps") is None


def test_near_reps_stage_config_mismatch_refuses(spark, tmp_path):
    """r7 review: reps are only valid for the LSH parameters that built
    them — resuming the curation loop with a different threshold must
    refuse instead of silently reusing the wrong clustering."""
    import pytest

    from documentai_spark.plans.checkpoint import _near_reps_stage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "cfg_in")
    docs.write.parquet(in_dir)
    out = str(tmp_path / "cfg_out")

    _near_reps_stage(spark, in_dir, out, log=lambda *_: None,
                     jaccard_threshold=0.7)
    # same params: skips cleanly
    _near_reps_stage(spark, in_dir, out, log=lambda *_: None,
                     jaccard_threshold=0.7)
    with pytest.raises(ValueError, match="different parameters"):
        _near_reps_stage(spark, in_dir, out, log=lambda *_: None,
                         jaccard_threshold=0.9)


def test_resume_config_mismatch_raises(spark, transcripts_path, tmp_path):
    """Committed buckets are only resumable under the same schema and
    bucketing (r7 review: an --entities resume over a plain run would
    silently serve half the conversations without entity columns)."""
    import pytest

    out = str(tmp_path / "out_cfg")
    run_checkpointed(spark, transcripts_path, out, n_buckets=4,
                     max_buckets=2, log=lambda *a: None)
    with pytest.raises(ValueError, match="different configuration"):
        run_checkpointed(spark, transcripts_path, out, n_buckets=4,
                         include_entities=True, log=lambda *a: None)
    with pytest.raises(ValueError, match="different configuration"):
        run_checkpointed(spark, transcripts_path, out, n_buckets=8,
                         log=lambda *a: None)


def test_partial_run_marked_incomplete(spark, transcripts_path, tmp_path):
    """A max_buckets-limited run must be distinguishable from a complete
    one — its aggregates cover only a subset (r7 review)."""
    out = str(tmp_path / "out_partial_mark")
    s1 = run_checkpointed(spark, transcripts_path, out, n_buckets=4,
                          max_buckets=1, log=lambda *a: None)
    assert s1["incomplete"] is True and s1["buckets_pending"] == 3
    s2 = run_checkpointed(spark, transcripts_path, out, n_buckets=4,
                          log=lambda *a: None)
    assert "incomplete" not in s2 and "buckets_pending" not in s2


def test_corrupt_manifest_reads_as_pending(spark, transcripts_path,
                                           tmp_path):
    """A truncated manifest (crash between rename and data flush, or a
    hand-edit) must re-run that bucket, not brick every resume with a
    JSONDecodeError (r7 review)."""
    import os

    out = str(tmp_path / "out_corrupt")
    run_checkpointed(spark, transcripts_path, out, n_buckets=4,
                     log=lambda *a: None)
    victim = os.path.join(out, "_checkpoints", "bucket-00002.json")
    with open(victim, "w") as f:
        f.write("")  # zero-length commit
    m = read_manifest(out)
    assert 2 not in m and len(m) == 3
    s = run_checkpointed(spark, transcripts_path, out, n_buckets=4,
                         log=lambda *a: None)
    assert s["buckets_done"] == 1 and s["buckets_skipped"] == 3


def test_curation_staging_prunes_and_resumes(spark, tmp_path):
    """The bucketize stage writes the input partitioned by the
    fingerprint bucket ONCE; per-bucket jobs read pruned directories
    and a resume skips the staging (r7 review: the loop used to re-scan
    and re-normalize the full corpus n_buckets times)."""
    import os

    import pytest

    from documentai_spark.plans.checkpoint import (
        read_stage_manifest, run_checkpointed_curation,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "docs_in")
    docs.write.parquet(in_dir)
    out = str(tmp_path / "out_staged")
    logs: list[str] = []
    s1 = run_checkpointed_curation(spark, in_dir, out, n_buckets=4,
                                   log=logs.append)
    staged = os.path.join(out, "_staged")
    assert os.path.isdir(staged)
    assert sorted(d for d in os.listdir(staged)
                  if d.startswith("bucket=")) \
        == [f"bucket={b}" for b in range(4)]
    rec = read_stage_manifest(out, "bucketize")
    assert rec["status"] == "done" and rec["rows_out"] == s1["rows_in"]
    # resume: staging skipped, all buckets skipped
    logs.clear()
    s2 = run_checkpointed_curation(spark, in_dir, out, n_buckets=4,
                                   log=logs.append)
    assert s2["buckets_skipped"] == 4 and s2["kept"] == s1["kept"]
    assert any("bucketize stage: skipped" in ln for ln in logs)
    # a different threshold config refuses to resume
    with pytest.raises(ValueError, match="mix keep semantics"):
        run_checkpointed_curation(spark, in_dir, out, n_buckets=4,
                                  min_tokens=5, log=lambda *a: None)


def test_legacy_manifest_without_config_is_stale(spark, transcripts_path,
                                                 tmp_path):
    """A manifest with NO recorded config (pre-guard rounds) must read
    as a MISMATCH: defaulting the missing field to the current config
    passed exactly the legacy outputs the guard exists to protect
    (r7 review) — an --entities resume over such a directory would mix
    schemas with no error."""
    import json
    import os

    import pytest

    out = str(tmp_path / "out_legacy")
    run_checkpointed(spark, transcripts_path, out, n_buckets=4,
                     max_buckets=2, log=lambda *a: None)
    victim = os.path.join(out, "_checkpoints", "bucket-00000.json")
    rec = json.load(open(victim))
    del rec["config"]
    json.dump(rec, open(victim, "w"))
    with pytest.raises(ValueError, match="different configuration"):
        run_checkpointed(spark, transcripts_path, out, n_buckets=4,
                         log=lambda *a: None)


@pytest.mark.parametrize("kind", ["bucket", "stage"])
def test_manifest_wrong_shape_json_reads_as_pending(tmp_path, kind):
    """Valid JSON that is not a manifest record (a list, a non-dict, or
    a bucket dict without an int 'partition') and truncated JSON must
    read as not-done — never KeyError-brick resume (the read_manifest /
    read_stage_manifest contract)."""
    import json
    import os

    from documentai_spark.plans.checkpoint import (
        read_manifest, read_stage_manifest,
    )

    out = str(tmp_path / "out_shape")
    d = os.path.join(out, "_checkpoints")
    os.makedirs(d)
    if kind == "bucket":
        json.dump([1, 2], open(os.path.join(d, "bucket-00000.json"), "w"))
        json.dump({"status": "done"},
                  open(os.path.join(d, "bucket-00001.json"), "w"))
        json.dump({"partition": "2", "status": "done"},
                  open(os.path.join(d, "bucket-00002.json"), "w"))
        json.dump({"partition": 3, "status": "done"},
                  open(os.path.join(d, "bucket-00003.json"), "w"))
        m = read_manifest(out)
        assert set(m) == {3}
        return
    bad = {"truncated": '{"stage": "truncated", "status": "do',
           "list": "[1, 2]", "string": '"done"', "number": "7"}
    for name, body in bad.items():
        with open(os.path.join(d, f"stage-{name}.json"), "w") as f:
            f.write(body)
        assert read_stage_manifest(out, name) is None, name
    ok = {"stage": "ok", "status": "done"}
    json.dump(ok, open(os.path.join(d, "stage-ok.json"), "w"))
    assert read_stage_manifest(out, "ok") == ok


def test_prepare_manifest_without_lm_threshold_resumes(spark, tmp_path,
                                                       monkeypatch):
    """A prepare-corpus manifest committed before the lm_threshold config
    key existed (pre-r8) was committed without an LM filter: it must
    resume under lm_threshold=None instead of refusing."""
    import json
    import os

    from documentai_spark.plans.checkpoint import run_prepare_stages

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "pre_r8_in")
    docs.write.parquet(in_dir)
    out = str(tmp_path / "pre_r8_out")
    kw = dict(budget=120, pack_shards=4, log=lambda *_: None)
    _crash_pack_after(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="killed"):
        run_prepare_stages(spark, in_dir, out, resume=True, **kw)
    monkeypatch.undo()
    path = os.path.join(out, "_checkpoints", "stage-prepare-corpus.json")
    rec = json.load(open(path))
    del rec["config"]["lm_threshold"]
    json.dump(rec, open(path, "w"))
    r = run_prepare_stages(spark, in_dir, out, resume=True, **kw)
    assert r["stages_skipped"] == ["corpus"]
    assert "incomplete" not in r and r["packed_docs"] > 0


def test_resume_accepts_explicitly_spelled_defaults(spark, tmp_path,
                                                    monkeypatch):
    """'Same configuration' must compare semantics, not spelling: run 1
    passes a threshold explicitly at its default value, run 2 omits it —
    the resume is semantically identical and must be accepted
    (r7 review: the raw-kwargs config refused it)."""
    from documentai_spark.plans.checkpoint import run_checkpointed_curation

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "docs_in_cfg")
    docs.write.parquet(in_dir)
    out = str(tmp_path / "out_cfg_norm")
    _crash_curate_on(monkeypatch, 3)
    with pytest.raises(RuntimeError, match="killed"):
        run_checkpointed_curation(spark, in_dir, out, n_buckets=4,
                                  min_tokens=20, log=lambda *a: None)
    monkeypatch.undo()
    s = run_checkpointed_curation(spark, in_dir, out, n_buckets=4,
                                  log=lambda *a: None)
    assert s["buckets_skipped"] == 2 and s["buckets_done"] == 2


def test_input_bucket_column_collision_refused(spark, transcripts_path,
                                               tmp_path):
    """Inputs that already carry the loops' derived key names must be
    refused loudly — the loops would silently clobber and then drop the
    user's column (r7 review)."""
    import pytest

    from documentai_spark.plans.checkpoint import run_checkpointed_curation
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "docs_bucket_col")
    docs.withColumn("bucket", F.lit(7)).write.parquet(in_dir)
    with pytest.raises(ValueError, match="'bucket' column"):
        run_checkpointed_curation(spark, in_dir,
                                  str(tmp_path / "out_bc"),
                                  n_buckets=4, log=lambda *a: None)

    tr_dir = str(tmp_path / "tr_bucket_col")
    spark.read.parquet(transcripts_path).withColumn(
        "_bucket", F.lit(1)).write.parquet(tr_dir)
    with pytest.raises(ValueError, match="'_bucket' column"):
        run_checkpointed(spark, tr_dir, str(tmp_path / "out_tbc"),
                         n_buckets=4, log=lambda *a: None)
