"""Incremental summary-table maintenance: one mergeable state row per
group covering the whole aggregate family.

A 100 TB fact table cannot be rescanned for every dashboard slice or
every arriving batch. The standard answer (Druid/Pinot rollup
segments, warehouse summary tables, Delta incremental MV refresh) is a
STATE TABLE at the finest query grain whose per-cell states are
MERGEABLE: arriving data folds in by state merge, and coarser grains
are answered by merging cells — never by touching raw data again.

This module composes the engine's mergeable pieces into that table:

- additive moments: count, non-null count, sum, sum of squares
  (-> mean/variance), min, max — integer/extremal merges are exact;
- distinct count: Datasketches HLL (``hll_sketch_agg`` /
  ``hll_union_agg`` — register-max merge, union-exact over sketches,
  read out by ``hll_estimate`` from the registers alone);
- heavy hitters: ``approx_top_k_accumulate`` / ``_combine`` —
  exact while per-cell distinct items fit ``max_items``;
- quantiles: the deterministic bottom-k-by-hash sample
  (`operators/quantiles.py`) — min-wise sampling, EXACTLY mergeable.

Every component's merge is associative + commutative (and the lossy
ones are deterministic given content), so accumulate-per-batch then
merge == accumulate-over-union, bit-for-bit — the property the tests
pin. This is the table-maintenance generalization of the reference's
own lifecycle: per-cell state (Init/Update), persisted at a boundary
(Serialize), folded by state union (Merge), read out (Finalize)
(`/root/reference/hashset-count.cc:82-524`).

Scale: accumulate is one shuffle at the fine grain; merge of a new
batch is a shuffle of STATE ROWS (cells, not raw rows); finalize is a
projection. Sum columns quantize to integer micro-units so the merged
double is independent of merge order (the repo-wide engine-stability
convention, see `operators/corpus_stats.py`). One sizing caveat: the
bottom-k component rides the shared aggregate via ``collect_list`` +
slice, which buffers a CELL's rows before cutting — fine at the fine
grains a summary table is built on (that is the point of the table),
but for coarse grains with giant cells build the quantile sketch
separately with ``quantiles.bottomk_accumulate`` (pre-cut by a
rank-limited window, buffer bounded at k) and join it on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashset_count import hll_estimate
from .quantiles import hash_rank

_QUANT = 1_000_000  # micro-unit fixed point for order-independent sums


def _qint(c: Column) -> Column:
    """Integer micro-units: floor(x * 1e6 + 0.5) as BIGINT — one
    deterministic IEEE expression; integer addition is then exact and
    order-independent."""
    return F.floor(c.cast("double") * _QUANT + F.lit(0.5)).cast("long")


def agg_state_accumulate(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    key_col: str,
    lg_k: int = 12,
    top_items: int = 1024,
    bottom_k: int = 64,
) -> DataFrame:
    """Build the state table at the ``group_cols`` grain from raw
    rows. ``value_col`` feeds the moments/quantiles; distinct/topk
    track the string form of ``key_col`` (a user/entity id)."""
    v = F.col(value_col)
    key_s = F.col(key_col).cast("string")
    bk_entry = F.struct(
        hash_rank(F.col(key_col)).alias("h"),
        key_s.alias("t"),
        v.cast("double").alias("v"),
    )
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(v).alias("n_vals"),
        F.sum(_qint(v)).alias("sum_q"),
        F.sum(_qint(v * v)).alias("sumsq_q"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
        F.hll_sketch_agg(key_s, F.lit(lg_k)).alias("hll"),
        F.expr(
            f"approx_top_k_accumulate(CAST({key_col} AS STRING), {int(top_items)})"
        ).alias("topk_sk"),
        F.slice(F.array_sort(F.collect_list(bk_entry)), 1, bottom_k).alias(
            "bk_sketch"
        ),
    )


def agg_state_merge(
    states: DataFrame,
    group_cols: list[str],
    top_items: int = 1024,
    bottom_k: int = 64,
) -> DataFrame:
    """Fold state rows to the ``group_cols`` grain: use it both to
    merge a NEW batch's states into the stored table (union the state
    tables first) and to roll up to a coarser grain. Touches only
    state rows."""
    return states.groupBy(*group_cols).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_vals").alias("n_vals"),
        F.sum("sum_q").alias("sum_q"),
        F.sum("sumsq_q").alias("sumsq_q"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.hll_union_agg("hll").alias("hll"),
        F.expr(f"approx_top_k_combine(topk_sk, {int(top_items)})").alias(
            "topk_sk"
        ),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("bk_sketch"))), 1, bottom_k
        ).alias("bk_sketch"),
    )


def agg_state_finalize(
    states: DataFrame,
    group_cols: list[str],
    top_k: int = 5,
    top_items: int = 1024,
) -> DataFrame:
    """Read the summary out of the state: moments, distinct estimate,
    top-k heavy hitters (deterministically ranked, comma-joined), and
    the sample median (discrete order statistic — an actual data
    value). All arithmetic is over exact integers or raw values, so
    the output is engine/merge-order stable.

    The heavy-hitter estimate OVER-FETCHES the sketch's full summary
    and re-ranks with an explicit (count desc, item asc) comparator
    BEFORE slicing top_k — asking the sketch for exactly k would let
    a count tie at the k boundary resolve by merge order (observed:
    streaming-merged vs direct sketches returned different boundary
    items), the same boundary hazard `corpus_stats.top_tokens_sketch`
    documents."""
    mean = (F.col("sum_q").cast("double") / _QUANT) / F.col("n_vals")
    ranked = F.expr(
        f"""slice(array_sort(approx_top_k_estimate(topk_sk, {int(top_items)}),
            (l, r) -> CASE WHEN l.count > r.count THEN -1
                           WHEN l.count < r.count THEN 1
                           WHEN l.item < r.item THEN -1
                           WHEN l.item > r.item THEN 1
                           ELSE 0 END), 1, {int(top_k)})"""
    )
    vals = F.transform(F.col("bk_sketch"), lambda e: e["v"])
    n_bk = F.size(vals)
    median_idx = F.ceil(F.lit(0.5) * n_bk).cast("int")
    sorted_vals = F.array_sort(vals)
    return states.select(
        *group_cols,
        "n_rows",
        "n_vals",
        (F.col("sum_q").cast("double") / _QUANT).alias("sum_v"),
        F.when(F.col("n_vals") > 0, mean).alias("mean_v"),
        "vmin",
        "vmax",
        hll_estimate("hll").alias("approx_distinct"),
        F.array_join(
            F.transform(ranked, lambda e: e["item"]), ","
        ).alias("top_keys"),
        F.when(
            n_bk > 0, F.element_at(sorted_vals, median_idx)
        ).alias("median_sample"),
    )
