"""Seeded, cached benchmark inputs and the pure-Python extraction oracle.

Every input is a pure function of ``(seed, shape)``. Inputs and oracle
tables are cached under the work directory, keyed by both, so a repeated
seed pays generation and the oracle once.

- Transcripts come from the product generator
  ``sources.transcripts.write_transcripts_parquet`` with its default kind
  mix (50/30/20 plain/html/layout, ~1% 20k-word turns) and one mega
  conversation per 100.
- Documents follow the shape of the ``documents`` test table (a 30-token
  vocabulary, 10-100 tokens per document, five languages, 20 sources,
  5% near copies ending in ``dup``, a few exact duplicates), then the
  perturbed-copy recipe of ``tools/bench_prepare_sf1.py``: every copy
  appends its own 8 hash tokens, so documents of 82+ tokens form
  cross-copy near-duplicate clusters.
- The decontamination slice holds the texts of a few base documents,
  so every copy of those documents is contaminated.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
DOC_LANGS = ("en", "zh", "es", "fr", "de")
DOC_LANG_WEIGHTS = (41, 15, 15, 15, 14)
DOC_SOURCES = 20
NEAR_COPY_FRAC = 0.05
EXACT_DUP_FRAC = 0.002
BENCH_DOCS = 40
LONG_TURN_CHARS = 50_000

# oracle results for texts this long are kept on disk across seeds:
# the generator's 20k-word turns come in few distinct variants and cost
# ~0.25 s each in the pure-Python oracle
_MEMO_MIN_CHARS = 10_000


def _done(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "_DONE")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _mark_done(path: str, info: dict) -> dict:
    tmp = os.path.join(path, "_DONE.tmp")
    with open(tmp, "w") as f:
        json.dump(info, f)
    os.replace(tmp, os.path.join(path, "_DONE"))
    return info


def transcripts(cache: str, seed: int, n_convs: int, mega_every: int,
                mega_turns: int) -> tuple[str, dict]:
    """Transcripts parquet dir plus its input properties."""
    from documentai_spark.sources.transcripts import (
        write_transcripts_parquet,
    )

    path = os.path.join(
        cache, f"transcripts_s{seed}_c{n_convs}_m{mega_every}x{mega_turns}")
    info = _done(path)
    if info is None:
        rows = write_transcripts_parquet(
            path, seed=seed, n_convs=n_convs, mega_every=mega_every,
            mega_turns=mega_turns, rows_per_file=4096)
        from documentai_spark.core.textkind import detect_kind
        texts = pq.read_table(path, columns=["text"])["text"].to_pylist()
        mix: dict[str, int] = {}
        for t in texts:
            k = ("long" if t is not None and len(t) > LONG_TURN_CHARS
                 else detect_kind(t or ""))
            mix[k] = mix.get(k, 0) + 1
        info = _mark_done(path, {
            "rows": rows, "bytes": sum(len(t or "") for t in texts),
            "kind_mix": mix,
            "mega_convs": n_convs // mega_every if mega_every else 0})
    return path, info


def _tokens(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(DOC_VOCAB) for _ in range(n))


def documents(cache: str, seed: int, n_base: int,
              copies: int) -> tuple[str, str, dict]:
    """(documents parquet dir, benchmark-slice parquet dir, properties)."""
    path = os.path.join(cache, f"documents_s{seed}_b{n_base}x{copies}")
    bench = path + "_bench"
    info = _done(path)
    if info is not None:
        return path, bench, info
    rng = random.Random(seed)
    base: list[str] = []
    near = exact = 0
    for i in range(n_base):
        r = rng.random()
        if i and r < NEAR_COPY_FRAC:
            base.append(base[rng.randrange(i)] + " dup")
            near += 1
        elif i and r < NEAR_COPY_FRAC + EXACT_DUP_FRAC:
            base.append(base[rng.randrange(i)])
            exact += 1
        else:
            base.append(_tokens(rng, rng.randint(10, 100)))
    langs = rng.choices(DOC_LANGS, DOC_LANG_WEIGHTS, k=n_base)
    cols: dict[str, list] = {"doc_id": [], "text": [], "lang": [],
                             "source": [], "n_chars": []}
    for c in range(copies):
        for i, text in enumerate(base):
            doc_id = c * n_base + i
            suffix = " ".join(
                "cp%dx%dq%s" % (c, j, hashlib.blake2b(
                    b"%d|%d|%d" % (seed, doc_id, j),
                    digest_size=6).hexdigest())
                for j in range(8))
            text_c = text + " " + suffix
            cols["doc_id"].append(doc_id)
            cols["text"].append(text_c)
            cols["lang"].append(langs[i])
            cols["source"].append(f"src{i % DOC_SOURCES}")
            cols["n_chars"].append(len(text_c))
    os.makedirs(path, exist_ok=True)
    table = pa.table(cols, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]))
    # several files so the scan has parallel splits
    step = -(-table.num_rows // 8)
    for k in range(8):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))
    picks = sorted(rng.sample(range(n_base), BENCH_DOCS))
    os.makedirs(bench, exist_ok=True)
    pq.write_table(pa.table({"bench_id": pa.array(picks, pa.int64()),
                             "text": [base[i] for i in picks]}),
                   os.path.join(bench, "part-00000.parquet"))
    info = _mark_done(path, {
        "rows": table.num_rows, "bytes": sum(cols["n_chars"]),
        "base_docs": n_base, "copies": copies, "near_copies": near,
        "exact_dups": exact, "bench_docs": BENCH_DOCS})
    return path, bench, info


# ---------------------------------------------------------------- oracle

SPAN = pa.struct([("begin", pa.int32()), ("end", pa.int32()),
                  ("kind", pa.string()), ("text", pa.string())])
Q_COLS = ("q_blank", "q_legibility", "q_completeness", "q_skew", "q_noise",
          "q_contrast", "q_brightness", "q_edge_crop", "q_shadow_glare",
          "q_resolution", "confidence")
# the pipeline output columns the oracle pins, with their Spark types
ORACLE_SCHEMA = pa.schema(
    [("conv_id", pa.string()), ("turn_idx", pa.int32()),
     ("role", pa.string()), ("tool", pa.string()), ("kind", pa.string()),
     ("extracted_text", pa.string()), ("spans", pa.list_(SPAN))]
    + [(c, pa.float64()) for c in Q_COLS]
    + [("verdict", pa.string()),
       ("recommendations", pa.list_(pa.string()))])


def oracle_turn(text: str | None) -> list:
    """One turn under the pure-Python core oracle (``extract_turn`` +
    ``score_turn`` + ``recommendations_for``, as in
    tests/test_pipeline_oracle.py): ``[kind, extracted_text, spans,
    q_* ..., confidence, verdict, recommendations]``."""
    from documentai_spark.core.entities import (
        completeness_score, extract_entities,
    )
    from documentai_spark.core.extract import extract_turn
    from documentai_spark.core.quality import (
        recommendations_for, score_turn,
    )
    kind, extracted, spans = extract_turn(text)
    q = score_turn(text or "", extracted,
                   completeness_score(extract_entities(extracted)))
    recs = recommendations_for(
        q.q_blank, q.q_legibility, q.q_completeness, q.q_skew, q.q_noise,
        q.q_contrast, q.q_brightness, q.q_edge_crop, q.q_shadow_glare,
        q.q_resolution)
    return [kind, extracted, [s._asdict() for s in spans],
            *(getattr(q, c) for c in Q_COLS), q.verdict, list(recs)]


def _text_key(text: str | None) -> str:
    return hashlib.md5(repr(text).encode()).hexdigest()


def _pool_map(fn, items: list, workers: int) -> list:
    """``fn`` over ``items`` in a ``spawn`` pool. Also stops the
    resource tracker the pool's semaphores started, and waits for it:
    left alone it outlives this process by a moment."""
    import gc
    import multiprocessing as mp
    from multiprocessing import resource_tracker
    try:
        with mp.get_context("spawn").Pool(workers) as pool:
            done = pool.map(fn, items, chunksize=16)
            pool.close()
            pool.join()
        return done
    finally:
        # the pool's semaphores unregister from the tracker when freed
        pool = None
        gc.collect()
        resource_tracker._resource_tracker._stop()


def oracle_table(cache: str, path: str, workers: int) -> pa.Table:
    """The expected pipeline output for the transcripts at ``path``, in
    (conv_id, turn_idx) order. Computed once per input in a ``spawn``
    pool and cached beside it; results for long texts are also kept
    across inputs, keyed by the text's hash."""
    out = path + "_oracle.parquet"
    if os.path.exists(out):
        return pq.read_table(out)
    t = pq.read_table(path, columns=["conv_id", "turn_idx", "role",
                                     "tool", "text"])
    t = t.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    texts = t["text"].to_pylist()
    memo_path = os.path.join(cache, "oracle_memo.json")
    try:
        with open(memo_path) as f:
            memo = json.load(f)
    except (OSError, ValueError):
        memo = {}
    keys = [_text_key(x) for x in texts]
    pending = {k: x for k, x in zip(keys, texts) if k not in memo}
    todo = sorted(pending, key=lambda k: -len(pending[k] or ""))
    if todo:
        done = _pool_map(oracle_turn, [pending[k] for k in todo], workers)
        memo.update(zip(todo, done))
        long_keys = [k for k in todo
                     if len(pending[k] or "") >= _MEMO_MIN_CHARS]
        if long_keys:
            try:
                with open(memo_path) as f:
                    disk = json.load(f)
            except (OSError, ValueError):
                disk = {}
            disk.update({k: memo[k] for k in long_keys})
            tmp = memo_path + f".{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump(disk, f)
            os.replace(tmp, memo_path)
    names = ORACLE_SCHEMA.names[4:]
    cols = {c: t[c] for c in ("conv_id", "turn_idx", "role", "tool")}
    for i, name in enumerate(names):
        cols[name] = [memo[k][i] for k in keys]
    table = pa.table(cols, schema=ORACLE_SCHEMA)
    pq.write_table(table, out + ".tmp")
    os.replace(out + ".tmp", out)
    return table
