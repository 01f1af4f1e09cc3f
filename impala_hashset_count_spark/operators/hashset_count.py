"""``hashset_count`` — exact grouped distinct-count, the reference's core.

The reference (`/root/reference/hashset-count.cc`) implements this as an
Impala UDA: a 300k-bucket open hash table with chained `\\0`-delimited
buckets, split into Init/Update/Serialize/Merge/Finalize callbacks
(`hashset-count.h:30-34`). Its reason to exist — multiple exact distinct
counts in one query (`README.md:1`) — is *native* in Spark: Catalyst's
``RewriteDistinctAggregates`` rewrites any number of DISTINCT aggregates
via an ``Expand`` node, so the idiomatic tier is a thin wrapper over
built-ins and is the 100 TB path.

Semantics contract honored in faithful mode (SURVEY.md §8):

1. input NULLs are skipped                      (`hashset-count.cc:106`)
2. zero non-NULL rows -> SQL NULL, not 0        (`hashset-count.cc:507-510`)
3. "" counts as one distinct value              (`hashset-count-test.cc:41,47`)
4. duplicates eliminated by byte equality       (`hashset-count.cc:163-169`)
5. result rendered as a decimal STRING          (`hashset-count.cc:479`, `README.md:28`)
6. merge is a pure set union (assoc+comm)       (`hashset-count.cc:269-461`)

Deliberately NOT replicated (implementation artifacts, SURVEY.md §8.8):
the `\\0`-in-string corruption (`README.md:9`), the fixed 300 000-bucket
sizing (`hashset-count.cc:67`), and the ~300k-cardinality sweet spot
(`README.md:11`). This rebuild is correct for arbitrary strings and
cardinalities.

Three tiers (SURVEY.md §7 Phase 2):

a. ``hashset_count_agg`` / ``hashset_count_df`` — **idiomatic**:
   ``count_distinct`` + NULL-on-empty correction. Partial/final hash
   aggregation, whole-stage codegen, shuffle only of partial states —
   this is the plan the reference's Update/Serialize/Merge protocol
   hand-rolled, provided by ``HashAggregateExec`` for free.
b. ``make_hashset_count_udaf`` — **faithful UDAF**: a pandas GROUPED_AGG
   UDF returning the decimal string (or None). Registered in SQL as
   ``hashset_count`` — the Spark analogue of the reference's
   ``CREATE AGGREGATE FUNCTION`` DDL (`README.md:28-33`). Note: Spark
   ships whole groups to the Python worker for pandas UDAFs (no
   partial/merge split) — fidelity tier, not the scale tier;
   ``hashset_count_df_guarded`` is its production form, routing
   oversized groups through tier a's identical output contract.
c. ``hashset_count_rdd`` — **structural twin**: the literal
   init/update/merge/finalize decomposition as
   ``aggregateByKey(set(), seqFunc, combFunc).mapValues(finalize)``;
   zeroValue=Init, seqFunc=Update, combFunc=Merge (set union, matching
   `hashset-count.cc:269-461`), pickling=Serialize. Exists to *prove*
   merge-order insensitivity; not a production path.

Plus ``approx_distinct_count`` — the HyperLogLog++ alternative the
reference's README positions itself against (`README.md:1,10`); at
billions of distincts per group this is the right engine answer.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def hashset_count_agg(col: str | Column, faithful: bool = True) -> Column:
    """Tier a: aggregate *expression* usable inside any ``agg(...)``.

    ``faithful=True`` reproduces the reference's two divergences from
    SQL ``COUNT(DISTINCT)``: NULL (not 0) on zero non-NULL rows
    (`hashset-count.cc:507-510`) and a STRING result
    (`hashset-count.cc:479`). ``faithful=False`` returns the plain
    BIGINT ``count_distinct`` (the scale-friendly form).
    """
    c = F.col(col) if isinstance(col, str) else col
    exact = F.count_distinct(c)
    if not faithful:
        return exact
    # F.count(c) counts non-NULL rows only -> 0 means "never updated",
    # the reference's still-'H' state => SQL NULL (hashset-count.cc:482-510).
    return F.when(F.count(c) == 0, F.lit(None).cast("string")).otherwise(
        exact.cast("string")
    )


def hashset_count_df(
    df: DataFrame,
    group_cols: Sequence[str],
    value_cols: Sequence[str],
    faithful: bool = True,
) -> DataFrame:
    """Tier a over a DataFrame: several exact distinct counts in ONE
    grouped pass — the reference's motivating workload (`README.md:1`).

    Catalyst plans this as Expand + partial/final hash aggregation; each
    additional distinct column multiplies the Expand fan-out, not the
    number of passes over the input.
    """
    aggs = [
        hashset_count_agg(v, faithful=faithful).alias(f"hashset_count_{v}")
        for v in value_cols
    ]
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def make_hashset_count_udaf():
    """Tier b: the faithful pandas UDAF (GROUPED_AGG).

    State is a hash set, as in the reference — but dynamic (a pandas
    ``unique`` over the group) instead of the fixed 300k-bucket table
    (`hashset-count.cc:67`), and with no `\\0` delimiter hazard
    (`README.md:9`).
    """

    @F.pandas_udf("string")
    def hashset_count(s: pd.Series) -> str | None:
        # Update: skip NULLs (hashset-count.cc:106).
        values = s.dropna()
        if len(values) == 0:
            # Finalize of a never-updated state -> SQL NULL
            # (hashset-count.cc:507-510, hashset-count-test.cc:33-37).
            return None
        # Exact dedup by value equality (hashset-count.cc:163-169) via a
        # Python set. NOT pandas ``nunique()``: its klib hash table
        # treats values as C strings and truncates at embedded NUL
        # bytes — precisely the `\0` corruption the reference documents
        # (`README.md:9`) and this rebuild must not replicate.
        # Finalize renders the count as a decimal string
        # (hashset-count.cc:474-480).
        return str(len(set(values)))

    return hashset_count


def _route_by_group_size(
    df: DataFrame,
    group_cols: Sequence[str],
    max_group_rows: int,
) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` into (small-group rows, oversized-group rows) by
    per-group TOTAL row count — ``count(*)``, not the non-NULL value
    count: Spark ships the whole group (NULL values included — the
    UDAF drops them Python-side) to the worker, so a hot group that is
    mostly NULL values would evade a non-NULL-count guard while still
    serializing every row to one process. NULL-SAFE on the group keys:
    a NULL group key is the canonical hot key (the placeholder id that
    is 30% of a log table) — a standard equi-join would never match it
    and silently send the one group the guard exists for straight to
    the pandas worker (both tested)."""
    counts = df.groupBy(*group_cols).agg(F.count("*").alias("__nn"))
    big_keys = F.broadcast(
        counts.filter(F.col("__nn") > max_group_rows).select(
            *[F.col(c).alias(f"__k_{c}") for c in group_cols]
        )
    )
    cond = None
    for c in group_cols:
        eq = F.col(c).eqNullSafe(F.col(f"__k_{c}"))
        cond = eq if cond is None else cond & eq
    small = df.join(big_keys, cond, "left_anti")
    big = df.join(big_keys, cond, "left_semi")
    return small, big


def hashset_count_df_guarded(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    max_group_rows: int = 5_000_000,
) -> DataFrame:
    """Tier b with the GROUP-SIZE GUARD — the production form of the
    faithful UDAF.

    Spark ships a pandas GROUPED_AGG group to ONE Python worker with
    no partial/merge split, so a single hot group (a skewed tenant, a
    null-ish default key) stalls tier b at scale — the same degradation
    zone the reference documents for its own single-node hash table
    (`/root/reference/README.md:10-11`: beyond the sweet spot,
    "performance degrades"). The guard routes any group whose TOTAL
    row count exceeds ``max_group_rows`` through tier a
    (``count_distinct`` + NULL-on-empty + string cast — the IDENTICAL
    output contract, `hashset-count.cc:464-524` semantics), which
    Catalyst executes as partial/final hash aggregation with no
    whole-group colocation anywhere.

    Cost account: one partial-aggregated counting pass over the input,
    then the hot-key list (tiny by construction — only groups above
    the threshold) broadcasts into semi/anti joins that split the
    input; neither split re-shuffles more than the groupBy it feeds.
    At 100 TB the counting pass is the price of skew safety; pipelines
    that already know their key histogram can pass the big-key list
    directly instead (filter + two groupBys, same shape)."""
    small, big = _route_by_group_size(df, group_cols, max_group_rows)
    udaf = make_hashset_count_udaf()
    small_out = small.groupBy(*group_cols).agg(
        udaf(F.col(value_col)).alias("hashset_count")
    )
    big_out = big.groupBy(*group_cols).agg(
        hashset_count_agg(value_col, faithful=True).alias("hashset_count")
    )
    return small_out.unionByName(big_out)


def register_sql_udaf(spark: SparkSession, name: str = "hashset_count"):
    """Expose tier b on the SQL surface:
    ``SELECT hashset_count(c) FROM t GROUP BY k`` — the Spark analogue of
    the reference's ``CREATE AGGREGATE FUNCTION`` (`README.md:28-33`).
    """
    udaf = make_hashset_count_udaf()
    spark.udf.register(name, udaf)
    return udaf


# --- Tier c: structural twin of the UDA ABI ------------------------------

def _init() -> set:
    """Init: fresh empty state (`hashset-count.cc:82-103`). A Python set
    replaces the 300k-bucket DistHashSet — dynamic sizing is strictly
    better (SURVEY.md §4)."""
    return set()


def _update(state: set, value) -> set:
    """Update: skip NULL, insert with exact dedup
    (`hashset-count.cc:105-192`)."""
    if value is not None:
        state.add(value)
    return state


def _merge(a: set, b: set) -> set:
    """Merge: pure set union — associative and commutative over any
    partitioning of the rows (`hashset-count.cc:269-461`, `README.md:41`).
    The reference implements this as a sort-merge-union over
    bucket-ordered runs; the semantics are UNION DISTINCT."""
    a |= b
    return a


def _finalize(state: set) -> str | None:
    """Finalize: decimal-string count, NULL for the never-updated state
    (`hashset-count.cc:464-524`)."""
    return str(len(state)) if state else None


def hashset_count_rdd(
    df: DataFrame, key_col: str, value_col: str, num_partitions: int | None = None
) -> DataFrame:
    """Tier c: ``aggregateByKey`` is the literal Init/Update/Merge/
    Finalize lifecycle (`hashset-count.h:30-34`); Python pickling of the
    set between map and reduce sides plays the role of Serialize
    (`hashset-count.cc:195-262`)."""
    # A 2-field Row is already the (key, value) pair aggregateByKey
    # unpacks; a per-row .map(tuple) only added a Python pass.
    pairs = df.select(key_col, value_col).rdd
    counted = (
        pairs.aggregateByKey(_init(), _update, _merge, numPartitions=num_partitions)
        .mapValues(_finalize)
    )
    # Explicit schema: toDF([names]) infers field types by EXECUTING the
    # RDD for a sample row (rdd.take through the aggregateByKey
    # shuffle), so the whole pipeline ran twice — once hidden at plan
    # build, once for real (r9, measured 0.83 s build / 0.36 s exec at
    # sf0.1). The key keeps the input column's type; the count is the
    # reference's decimal STRING (NULL on empty) by the Finalize
    # contract.
    schema = T.StructType(
        [
            T.StructField(key_col, df.schema[key_col].dataType, True),
            T.StructField("hashset_count", T.StringType(), True),
        ]
    )
    return counted.toDF(schema)


def approx_distinct_count(col: str | Column, rsd: float = 0.023) -> Column:
    """HyperLogLog++ tier — what the reference README tells users to use
    "for very large numbers (many millions, billions)" (`README.md:10`).
    Constant-size sketch state -> shuffle bytes independent of
    cardinality; the correct operator at 100 TB when exactness is not
    required."""
    c = F.col(col) if isinstance(col, str) else col
    return F.approx_count_distinct(c, rsd)


# ---------------------------------------------------------------------
# Mergeable sketch tier (Datasketches HLL): materialize once,
# re-aggregate to ANY coarser grain without touching raw data
# ---------------------------------------------------------------------

def distinct_sketch_table(
    df: DataFrame, dims: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-cell BINARY distinct sketches: one ``hll_sketch_agg``
    (Apache DataSketches HLL) per ``dims`` cell. This is the tier
    ``approx_count_distinct`` cannot provide: its HLL++ state is
    internal, so every new slicing re-reads the raw data — a STORED
    sketch table is written once at the finest grain and every coarser
    rollup is answered from the sketches alone
    (``rollup_distinct_from_sketches``). Distinct counts are not
    additive, so this is the only way a 100 TB fact table answers
    "distinct users by any dimension subset" without a rescan per
    dashboard cell. ~2^lg_k bytes per cell; lg_k=12 -> ~1.6% rsd."""
    return df.groupBy(*dims).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("sk")
    )


def hll_estimate(sketch: str | Column) -> Column:
    """Estimate of an HLL sketch that depends only on the set of values
    it has seen. Datasketches reads a sketch that took its values in
    order through the HIP accumulator, which depends on that order: a
    union that promotes to HLL mode while folding cells in, or a sketch
    built in one pass, carries one, so the same values read 387 from
    one fold order and 388 from another. A union with a sketch already
    in HLL mode marks the result out of order, and then the estimate
    comes from the registers alone (below HLL mode, from the coupon
    set); both are set functions. So union the sketch with itself."""
    sk = F.col(sketch) if isinstance(sketch, str) else sketch
    return F.hll_sketch_estimate(F.hll_union(sk, sk))


def rollup_distinct_from_sketches(
    sketch_table: DataFrame, keep_dims: list[str]
) -> DataFrame:
    """Re-aggregate a sketch table to a coarser grain: union the cell
    sketches (``hll_union_agg`` — register-wise max) and estimate.
    HLL unions are exact over sketches: sketch(A ∪ B) has the SAME
    registers as union(sketch(A), sketch(B)), and ``hll_estimate``
    reads only those, so the result equals what sketching the coarser
    grain directly would produce and merge order/partitioning cannot
    change it. Returns keep_dims + ``approx_distinct`` (bigint
    estimate)."""
    return sketch_table.groupBy(*keep_dims).agg(
        hll_estimate(F.hll_union_agg("sk")).alias("approx_distinct")
    )


def distinct_state_accumulate(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """EXACT mergeable distinct state per group: the sorted array of
    the group's distinct non-NULL values, as strings (the reference's
    value domain — everything arrives through ``ToStringVal``,
    `hashset-count.cc:25-39`).

    This is the batch-INCREMENTAL face of the reference lifecycle:
    what ``DistHashSetSerialize`` (`cc:195-262`) emits at the phase
    boundary — the full value set, bucket-ordered — persisted as a
    STATE TABLE between ingestion batches, so arriving data folds in
    via ``distinct_state_merge`` without ever rescanning history
    (the exact-tier twin of ``distinct_sketch_table``). State is
    O(distinct values) per group — exactly the reference's memory
    model (its 300k-bucket in-memory set); when that is too large,
    the HLL sketch table is the bounded-state alternative, the same
    trade the reference README documents (`README.md:10`)."""
    return df.groupBy(*group_cols).agg(
        F.array_sort(F.collect_set(F.col(value_col).cast("string"))).alias(
            "dstate"
        )
    )


def distinct_state_merge(
    states: DataFrame, group_cols: list[str]
) -> DataFrame:
    """``DistHashSetMerge`` (`hashset-count.cc:269-461`) over PERSISTED
    states: per group, the distinct union of the state arrays
    (sort-merge-union-with-dedup is literally what the reference's
    merge implements; here it is one ``flatten`` +
    ``array_distinct`` + ``array_sort``). Serves both uses of the
    reference's merge callback: folding a NEW batch's states into the
    stored table (union the two state tables first), and rolling the
    table up to a coarser grain. Associative and order-insensitive,
    so partitioning cannot change the result (tested)."""
    return states.groupBy(*group_cols).agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("dstate")))
        ).alias("dstate")
    )


def distinct_state_count(
    states: DataFrame, group_cols: list[str]
) -> DataFrame:
    """``DistHashSetFinalize`` (`hashset-count.cc:464-524`) over a
    state table: render the count as a decimal STRING, and return SQL
    NULL — not "0" — for a group whose state never saw a non-NULL
    value (the reference's documented empty-state semantics,
    SURVEY.md §8)."""
    n = F.size(F.col("dstate"))
    return states.select(
        *group_cols,
        F.when(n > 0, n.cast("string")).alias("hashset_count"),
    )


def hashset_count_windowed(
    df: DataFrame,
    part_cols: Sequence[str],
    value_col: str,
    order_col: str | None = None,
    faithful: bool = True,
) -> DataFrame:
    """The WINDOW face of the reference aggregate: exact distinct count
    of ``value_col`` per window partition, appended to EVERY row (the
    group-by face collapses rows; analytics often need the count beside
    the detail). SQL engines — Impala included — reject
    ``COUNT(DISTINCT x) OVER (...)``; this engine provides it as
    ``size(collect_set(x) OVER w)``: the set state is the window twin
    of the reference's DistHashSet, built once per partition and
    reused for every row in it.

    ``order_col`` switches to the RUNNING variant (distinct values seen
    so far, frame = unbounded preceding..current row) — the reference's
    update loop replayed cumulatively; set state again, one window
    shuffle either way. ``faithful=True`` keeps the reference's output
    contract (decimal STRING, NULL for an all-NULL/empty set —
    `/root/reference/hashset-count.cc:464-524`); False emits the
    idiomatic BIGINT (0 on empty).

    Scale note: per-partition set state — the same bounded-key
    assumption as the reference's 300k-bucket table; for huge windows
    use approx_count_distinct in an aggregate instead."""
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(c) for c in part_cols])
    if order_col is not None:
        w = w.orderBy(F.col(order_col)).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    n = F.size(F.collect_set(F.col(value_col)).over(w))
    if faithful:
        out = F.when(n > 0, n.cast("string"))
    else:
        out = n.cast("long")
    return df.withColumn("hashset_count_w", out)
