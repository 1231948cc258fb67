"""Corpus snapshot diff — "what changed between yesterday's curated
corpus and today's?" (closure operator, SURVEY.md §2.11 C51; the
release-gate question a recurring curation run answers before swapping
the training corpus).

Pure composition of the engine's own sketch/profile layers — the point
is the REPORT SHAPE, one dict from bounded work:

- row/document deltas (two counts);
- content overlap (C44 KMV bottom-k: Jaccard + both containments —
  "how much of the old corpus survived" and "how much of the new one
  is genuinely new" — from one TakeOrdered aggregate per side);
- per-column profile drift (C46: null-rate jumps, cardinality shifts,
  type changes — one aggregation pass per side);
- a doc-level added/removed estimate derived from the KMV
  cardinalities (no join between the corpora is ever run).

Everything driver-side is O(k + #columns); the corpora are each
scanned at most twice (profile pass + sketch pass), never joined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import sql_ident
from .profile import profile_drift, profile_table
from .sketches import KMV_K, corpus_overlap, kmv_sketch


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "text",
    k: int = KMV_K,
    null_rate_jump: float = 0.05,
    distinct_ratio: float = 0.5,
    portable_hash: bool = False,
    include_drift: bool = True,
) -> dict:
    """One-dict release report comparing two corpus snapshots.

    ``key_col`` is the content-identity column for overlap estimation
    (hashed — the raw values never leave the executors). Returns
    row counts, overlap estimates (exact when the sketches are
    unsaturated), estimated added/removed document counts, and the
    C46 drift findings between the two column profiles.

    ``portable_hash=True`` sketches over `dedup.MD5_INT_SPARK_SQL` of the
    content hash (with the matching [0, 2^60) estimator domain) instead
    of xxhash64 — same estimator semantics, but a second engine can
    re-derive every sketch value, which is what puts the diff under the
    DuckDB value oracle (q_training_pipeline fold, r13). Production
    callers keep the cheaper xxhash64.

    ``include_drift=False`` skips the two per-column profile passes and
    reports ``drift: None`` — row counts then come from two plain
    counts (parquet-footer-fast) instead of the full stat aggregation.
    The mode the r13 fold runs: the drift leg's per-column stats are
    independently value-folded in q_rollup, so paying two wide
    aggregations per bench pass would re-check already-checked
    arithmetic. Each input is read by several (possibly concurrent)
    jobs: cut the lineage of an input with a nondeterministic upstream
    (a sample, rand()) first, or its counts and sketch may see different rows.
    """
    key_sql = f"sha2(CAST({sql_ident(key_col)} AS BINARY), 256)"
    key = F.expr(key_sql)
    if portable_hash:
        from .dedup import MD5_INT_SPARK_SQL

        hc, domain = F.expr(MD5_INT_SPARK_SQL(key_sql)), (0, 2**60)
    else:
        hc, domain = None, None
    ska = kmv_sketch(old, key, k=k, hash_col=hc)
    skb = kmv_sketch(new, key, k=k, hash_col=hc)
    if include_drift:
        ov = corpus_overlap(ska, skb, k=k, domain=domain)
        prof_old = profile_table(old)
        prof_new = profile_table(new)
        rows_old, rows_new = prof_old["n_rows"], prof_new["n_rows"]
        drift = profile_drift(
            prof_old,
            prof_new,
            null_rate_jump=null_rate_jump,
            distinct_ratio=distinct_ratio,
        )
    else:
        # r14 (guide §2.6): the fold mode's four driver jobs — two
        # bottom-k sketch collects, two row counts — are independent
        # and their VALUES are materialization-order-invariant (a count
        # is a count, a bottom-k hash set is a bottom-k hash set, so
        # unlike the range-bucket prefix sums there is no resample
        # hazard in overlapping lazy-cut materializations). Run them
        # from one 4-thread pool; each job's plan is exactly the
        # sequential one. Interleaved A/B on the q_training_pipeline
        # row: 1.45 → 1.22 s (plans/r14/probe_snapshot_overlap.py).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(4) as pool:
            fa = pool.submit(ska.collect)
            fb = pool.submit(skb.collect)
            fc = pool.submit(old.count)
            fd = pool.submit(new.count)
            ha = [r["h"] for r in fa.result()]
            hb = [r["h"] for r in fb.result()]
            rows_old, rows_new = fc.result(), fd.result()
        ov = corpus_overlap(ha, hb, k=k, domain=domain)
        drift = None
    inter = ov["jaccard"] * ov["card_union"]
    return {
        "rows_old": rows_old,
        "rows_new": rows_new,
        "row_delta": rows_new - rows_old,
        "distinct_old_est": ov["card_a"],
        "distinct_new_est": ov["card_b"],
        "jaccard": ov["jaccard"],
        "survived_frac": ov["containment_a_in_b"],  # old content still present
        "novel_frac": 1.0 - ov["containment_b_in_a"],  # new content not in old
        "added_est": max(0.0, ov["card_b"] - inter),
        "removed_est": max(0.0, ov["card_a"] - inter),
        "drift": drift,
    }
