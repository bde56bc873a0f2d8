"""Output checks. Each returns a list of problems; empty means correct.

Outputs are read back with pyarrow, off the clock, and compared against
an oracle or invariant that does not use Spark.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from inputs import ORACLE_SCHEMA


def part_files(out_dir: str) -> list[str]:
    """Spark part files of one output directory, in partition order."""
    return sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))


def read_output(files: list[str]) -> pa.Table:
    """The oracle-pinned columns of some output files, in file order then
    row order."""
    return pa.concat_tables(
        [pq.read_table(f, columns=ORACLE_SCHEMA.names) for f in files])


def compare(got: pa.Table, want: pa.Table, what: str) -> list[str]:
    """Order-sensitive, column-by-column equality of two tables."""
    if got.num_rows != want.num_rows:
        return [f"{what}: {got.num_rows} rows, oracle has {want.num_rows}"]
    for name in want.column_names:
        w = want[name]
        g = got[name].cast(w.type)
        if g.equals(w):
            continue
        gl, wl = g.to_pylist(), w.to_pylist()
        i = next((i for i, (a, b) in enumerate(zip(gl, wl)) if a != b), 0)

        def key(t):
            return (t["conv_id"][i].as_py(), t["turn_idx"][i].as_py())
        return [f"{what}: column {name} differs first at row {i} "
                f"{key(got)}, oracle row {key(want)}"]
    return []


def check_ordered(out_dir: str, oracle: pa.Table) -> list[str]:
    """The ordered pipeline's output equals the oracle row for row, in
    (conv_id, turn_idx) order."""
    files = part_files(out_dir)
    if not files:
        return ["extract_ordered: no output files"]
    return compare(read_output(files), oracle, "extract_ordered")


def check_checkpoint(out_dir: str, oracle: pa.Table,
                     manifests: dict[int, dict],
                     n_buckets: int) -> list[str]:
    """The union of all buckets equals the oracle, and the manifests
    account for every input row exactly once."""
    problems = []
    files = sorted(glob.glob(os.path.join(out_dir, "bucket=*",
                                          "part-*.parquet")))
    got = read_output(files).sort_by([("conv_id", "ascending"),
                                      ("turn_idx", "ascending")])
    problems += compare(got, oracle, "checkpoint union")
    if sorted(manifests) != list(range(n_buckets)) or any(
            m.get("status") != "done" for m in manifests.values()):
        problems.append(f"checkpoint: manifests {sorted(manifests)} are "
                        f"not {n_buckets} done buckets")
    rows_in = sum(m.get("rows_in", 0) for m in manifests.values())
    rows_out = sum(m.get("rows_out", 0) for m in manifests.values())
    if not rows_in == rows_out == oracle.num_rows:
        problems.append(f"checkpoint: rows_in {rows_in}, rows_out "
                        f"{rows_out}, input {oracle.num_rows}")
    return problems + check_entities(files)


def check_entities(files: list[str]) -> list[str]:
    """Entity columns equal the core entity extractor on each row's
    extracted text."""
    from documentai_spark.core.entities import (
        extract_entities, extraction_confidence,
    )
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx",
                                      "extracted_text", "entities",
                                      "extraction_confidence"])
        for r in t.to_pylist():
            want = extract_entities(r["extracted_text"] or "")
            if dict(r["entities"]) != want or \
                    r["extraction_confidence"] != \
                    extraction_confidence(want):
                return [f"checkpoint: entities differ at "
                        f"{(r['conv_id'], r['turn_idx'])}"]
    return []


# ------------------------------------------------------------- prepare

_WS = re.compile(r"[ \t\n\x0b\f\r\x1c-\x1f]+")


def grams(text: str, n: int = 8) -> set[str]:
    """Distinct lower-cased n-token grams (decontaminate's tokenization)."""
    toks = [t for t in _WS.split((text or "").lower()) if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _read(path: str, columns: list[str]) -> pa.Table:
    return ds.dataset(path, partitioning="hive").to_table(columns=columns)


def export_digest(corpus_dir: str, assign_dir: str) -> str:
    """Content digest of an export, independent of file layout."""
    h = hashlib.md5()
    for path, keys, cols in (
            (corpus_dir, ["doc_id"], ["doc_id", "split"]),
            (assign_dir, ["doc_id"],
             ["doc_id", "split", "shard", "bin", "n_tokens", "oversize"])):
        t = _read(path, cols).sort_by([(k, "ascending") for k in keys])
        h.update(repr(t.to_pydict()).encode())
    return h.hexdigest()


def check_prepare(line: dict, corpus_dir: str, assign_dir: str,
                  bench_dir: str, n_docs: int, budget: int) -> list[str]:
    """Invariants of one prepare export (see README)."""
    problems = []
    corpus = _read(corpus_dir, ["doc_id", "text", "split"])
    ids = corpus["doc_id"].to_pylist()
    if corpus.num_rows == 0:
        problems.append("prepare: empty corpus")
    if len(set(ids)) != len(ids):
        problems.append("prepare: a kept document sits in more than one "
                        "split or twice in one")
    bench = set()
    for t in pq.read_table(bench_dir, columns=["text"])["text"].to_pylist():
        bench |= grams(t)
    leaked = sum(1 for t in corpus["text"].to_pylist() if grams(t) & bench)
    if leaked:
        problems.append(f"prepare: {leaked} contaminated documents survive")
    assign = _read(assign_dir, ["split", "doc_id", "shard", "bin",
                                "n_tokens", "oversize"])
    if assign.num_rows != len(ids) \
            or set(assign["doc_id"].to_pylist()) != set(ids):
        problems.append("prepare: assignment doc_id set differs from the "
                        "corpus")
    bins = assign.group_by(["split", "shard", "bin"]).aggregate(
        [("n_tokens", "sum"), ("doc_id", "count"), ("oversize", "all")])
    bad = pc.and_(pc.greater(bins["n_tokens_sum"], budget),
                  pc.invert(pc.and_(pc.equal(bins["doc_id_count"], 1),
                                    bins["oversize_all"])))
    if pc.any(bad).as_py():
        problems.append("prepare: a bin exceeds the budget without being "
                        "a single oversize document")
    if line.get("rows") != n_docs or line.get("packed_docs") != len(ids) \
            or line.get("incomplete"):
        problems.append(f"prepare: accounting {line.get('rows')} rows / "
                        f"{line.get('packed_docs')} packed for {n_docs} "
                        f"input / {len(ids)} kept")
    return problems


def check_export(line: dict, out_dir: str, docs_dir: str, bench_dir: str,
                 n_docs: int, budget: int) -> list[str]:
    """:func:`check_prepare`, plus: the export of one input is identical
    on every run (the first digest is kept beside the cached input)."""
    corpus = os.path.join(out_dir, "corpus")
    assign = os.path.join(out_dir, "assignment")
    problems = check_prepare(line, corpus, assign, bench_dir, n_docs,
                             budget)
    digest = export_digest(corpus, assign)
    kept = os.path.join(docs_dir, "_EXPORT_DIGEST")
    if not os.path.exists(kept):
        with open(kept, "w") as f:
            f.write(digest)
    with open(kept) as f:
        if f.read() != digest:
            problems.append("prepare: export digest differs from an "
                            "earlier run on the same input")
    return problems


def fill_frac(assign_dir: str, budget: int) -> float:
    """Packed tokens over ``bins * budget``."""
    a = _read(assign_dir, ["split", "shard", "bin", "n_tokens"])
    n_bins = a.group_by(["split", "shard", "bin"]).aggregate([]).num_rows
    return pc.sum(a["n_tokens"]).as_py() / (n_bins * budget)
