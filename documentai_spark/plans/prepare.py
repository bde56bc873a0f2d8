"""End-to-end training-data preparation: the composition a pretraining
pipeline actually runs, as ONE declarative plan.

The r5 curation operators are each gate-checked in isolation; this
module chains them into the export surface (the same move that wired
``near_dedup`` into ``--curate``):

    with_lm_perplexity (optional frozen-LM score)
      -> curate_documents (quality flags + exact [+ near] dedup; one
                           keep rule folds every flag)
      -> decontaminate (optional benchmark n-gram sweep)
      -> keep-filter   (keep & ~contaminated)
      -> mixture_sample (optional per-source rate thinning)
      -> with_split    (deterministic train/val/test buckets)
      -> pack_sequences(group_cols=["split"])  (per-split greedy packing)

Scale shape: everything upstream of packing is pure JVM expressions
plus the documented curation shuffles (one fingerprint window; the LSH
chain when ``near_dedup``; one broadcast gram join when a benchmark is
given) — no new exchanges are introduced by the composition itself.
Packing groups by ``(split, shard)`` in a single shuffle, so a bin can
never mix splits and the corpus is scanned ONCE for all splits. All
row-level decisions (split bucket, mixture bucket, dedup winner) are
content/id-hash deterministic: re-running the plan on the same input
reproduces the identical export, and incremental loads never migrate a
document between splits.

The two-stage job form (``job.py --prepare``) writes the curated corpus
partitioned by split, then RE-READS it for packing — the standard
staging pattern that (a) avoids recomputing the flag stack under the
packing shuffle and (b) keeps drop accounting single-counted (an
Observation on a subtree that fed two branches of one action would
double-fire).

Reference parity: composes the same stages the reference exposes as
separate service endpoints (SURVEY.md §2.10 curation family); the
reference has no single-call export, so this surface is additive.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from documentai_spark.operators.curation import (
    curate_documents, decontaminate, mixture_sample, with_lm_perplexity,
    with_split,
)
from documentai_spark.operators.packing import pack_sequences


class PreparedData(NamedTuple):
    """The three surfaces of a prepared export, lazy DataFrames all:

    - ``flagged``: EVERY input row with the full flag stack (+
      ``contaminated`` when a benchmark was given) — the audit surface.
    - ``corpus``: surviving rows only, with the ``split`` column — what
      a trainer reads (text + metadata, partitionable by split).
    - ``assignment``: narrow ``(split, doc_id, shard, bin, n_tokens,
      oversize)`` packing table — what a sequence loader joins against.
    """

    flagged: DataFrame
    corpus: DataFrame
    assignment: DataFrame


def prepare_training_data(docs: DataFrame, *,
                          benchmark: DataFrame | None = None,
                          near_dedup: bool = False,
                          split_weights: dict[str, float] | None = None,
                          mixture_rates: dict[str, float] | None = None,
                          budget: int = 2048,
                          n_shards: int = 16,
                          seed: int = 42,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          source_col: str = "source",
                          est_rows: int | None = None,
                          split_col: str = "split",
                          observer=None,
                          lm_model: dict | None = None,
                          lm_threshold: float | None = None,
                          **curation_kw) -> PreparedData:
    """Compose the full preparation chain over ``docs``; see module
    docstring for stage order and determinism guarantees.

    ``benchmark`` (optional): eval-set rows whose ``text_col`` n-grams
    must not leak into training; survivors require ``~contaminated``.
    ``mixture_rates`` (optional): per-``source_col`` keep rates applied
    AFTER the keep-filter and BEFORE splitting (the mixture defines the
    corpus; the split assigns it — and the two hash salts are
    independent, so order cannot bias either).
    ``est_rows``: forwarded to :func:`pack_sequences`'s driver-side
    sizing guard — pass the approximate corpus size at scale.
    ``observer`` (optional): ``DataFrame -> DataFrame`` applied to the
    fully-flagged table before the keep-filter — the job mode attaches
    an ``Observation`` here so drop accounting rides the corpus write
    itself (single pass, no output re-read, single-counted).
    ``lm_model`` + ``lm_threshold`` (r8): also score the documents
    under the frozen bigram LM (``curation.with_lm_perplexity``,
    stateless map-side) BEFORE the curation flags, so the one keep rule
    (``curation.with_stateless_flags``) folds ``high_perplexity`` into
    ``keep`` — the same composition as ``--curate --lm-threshold``.
    ``curation_kw``: forwarded to ``with_curation_flags`` (thresholds,
    LSH parameters).
    """
    if lm_model is not None and lm_threshold is not None:
        docs = with_lm_perplexity(docs, lm_model, text_col=text_col,
                                  threshold=lm_threshold)
    flagged = curate_documents(docs, near_dedup=near_dedup,
                               id_col=id_col, text_col=text_col,
                               **curation_kw)
    if benchmark is not None:
        flagged = decontaminate(flagged, benchmark, text_col=text_col,
                                id_col=id_col)
    if observer is not None:
        flagged = observer(flagged)
    if benchmark is not None:
        kept = flagged.filter(F.col("keep") & ~F.col("contaminated"))
    else:
        kept = flagged.filter(F.col("keep"))
    if mixture_rates:
        kept = mixture_sample(kept, rates=mixture_rates,
                              source_col=source_col, id_col=id_col,
                              seed=seed)
    corpus = with_split(kept, id_col=id_col, weights=split_weights,
                        seed=seed, col=split_col)
    assignment = pack_corpus(corpus, budget=budget, id_col=id_col,
                             text_col=text_col, n_shards=n_shards,
                             est_rows=est_rows, split_col=split_col)
    return PreparedData(flagged, corpus, assignment)


def pack_corpus(corpus: DataFrame, *, budget: int = 2048,
                n_shards: int = 16, est_rows: int | None = None,
                id_col: str = "doc_id", text_col: str = "text",
                split_col: str = "split") -> DataFrame:
    """The packing stage of the preparation chain, in ONE place: both
    the in-plan ``assignment`` above and ``job.py --prepare``'s stage 2
    (which re-reads the written corpus — the staging boundary in the
    module docstring) call THIS, so the packing parameters
    (per-split grouping, budget, sharding) cannot drift between the
    single-call and two-stage forms. Shard self-sizing included:
    when ``est_rows`` is known the shard count is
    ``auto_shards(n_shards, est_rows)`` HERE, not just in the job
    (r7 review: sizing only the two-stage path meant a 100M-row
    single-call corpus packed at the raw ``n_shards`` with only a
    ResourceWarning, a different — and OOM-prone — layout than the
    job's output). Without ``est_rows`` the warning remains the guard
    (row counts need an action the plan form must not take)."""
    from documentai_spark.operators.packing import auto_shards

    return pack_sequences(corpus, budget=budget, id_col=id_col,
                          text_col=text_col,
                          n_shards=auto_shards(n_shards, est_rows or 0),
                          est_rows=est_rows, group_cols=[split_col])
