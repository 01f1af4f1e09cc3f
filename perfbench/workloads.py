"""Seeded inputs, timed operations and output checks for each workload.

A workload is built from a seed into a ``Workload``: the parquet inputs
it wrote, the ordered list of ``Op``s one timed pass runs, and a
``check`` that reads one pass's outputs, untimed, and compares each
with counts the generator computed exactly with numpy.

Both workloads share one generator. Its table has one hot group
(about 40% of rows), one group whose values are all NULL, an int
column near the paper's ~300k distinct values per group, a high-NDV
int column, a small int column for moment sums, and a string column
holding ``""``, embedded NUL bytes and about 2% NULLs.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from impala_hashset_count_spark.operators import aggstate
from impala_hashset_count_spark.operators.auto_route import hashset_count_auto
from impala_hashset_count_spark.operators.hashset_count import (
    distinct_sketch_table,
    distinct_state_accumulate,
    distinct_state_count,
    distinct_state_merge,
    hashset_count_df,
    hashset_count_rdd,
    rollup_distinct_from_sketches,
)
from impala_hashset_count_spark.operators.jvm_udaf import hashset_count_jvm_agg

N_GROUPS = 18  # group 0 is hot, the last group has only NULL values
N_DAYS = 8  # fine grain of the incremental state tables is (g, d)
MID_RANGE = 300_000  # the paper's sweet spot: ~300k distinct per group
HIGH_RANGE = 1 << 40
STR_CODES = 200_000
BATCHES = 2
HLL_LG_K = 12
#: An HLL read-out passes when it lands within this many of its stated
#: relative standard errors of the exact count (plus 2).
ERR_SIGMAS = 5
HLL_RSD = 1.04 / np.sqrt(1 << HLL_LG_K)
#: The untimed output check runs this many independent read-outs at once.
CHECK_THREADS = 4

ROWS = {
    "full": {"hashset_volume": 100_000, "hashset_incremental": 100_000},
    "smoke": {"hashset_volume": 20_000, "hashset_incremental": 12_000},
}


def _collect_result(df, _out_dir) -> list:
    # Results are one row per group, so collecting them costs next to
    # nothing beyond executing the plan, and leaves them for the check.
    return df.collect()


@dataclass
class Op:
    """One timed operation. ``build(spark, out_dir)`` returns the
    DataFrame, running any jobs the operator needs while planning;
    ``sink(df, out_dir)`` executes it and returns what the check reads."""

    name: str
    build: Callable
    sink: Callable = _collect_result
    #: Decisions the operator reported while building (e.g. a route).
    notes: dict = field(default_factory=dict)


@dataclass
class Workload:
    name: str
    ops: list[Op]
    #: (spark, {op name: sink result}, out_dir) -> {op name: problem,
    #: or None when it passed}; reads one pass's outputs, runs untimed.
    check: Callable
    inputs: dict  # rows, bytes, files
    #: out_dir -> the state tables a pass leaves as its result
    final_states: Callable = lambda _out_dir: []


# --- generator ----------------------------------------------------------


def _label(code: int) -> str:
    """Injective int -> string map: code 0 is "", every 50th code
    carries an embedded NUL byte."""
    if code == 0:
        return ""
    if code % 50 == 1:
        return f"{code}\0{code % 7}"
    return f"u{code:x}"


LABELS = np.array([_label(c) for c in range(STR_CODES)], dtype=object)


def generate(seed: int, n_rows: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    null_g = N_GROUPS - 1
    u = rng.random(n_rows)
    g = np.where(
        u < 0.40, 0, np.where(u < 0.41, null_g, rng.integers(1, null_g, n_rows))
    ).astype(np.int32)
    all_null = g == null_g
    return {
        "g": g,
        "d": rng.integers(0, N_DAYS, n_rows).astype(np.int32),
        "x": rng.integers(0, 1000, n_rows),
        "v_mid": rng.integers(0, MID_RANGE, n_rows),
        "v_mid_null": all_null | (rng.random(n_rows) < 0.01),
        "v_high": rng.integers(0, HIGH_RANGE, n_rows),
        "v_high_null": all_null,
        "s": rng.integers(0, STR_CODES, n_rows),
        "s_null": all_null | (rng.random(n_rows) < 0.02),
        "batch": rng.integers(0, BATCHES, n_rows),
    }


def write_parquet(cols: dict[str, np.ndarray], rows: np.ndarray, path: str) -> int:
    """Write the selected rows as parquet; returns the file's bytes."""
    table = pa.table({
        "g": cols["g"][rows],
        "d": cols["d"][rows],
        "x": cols["x"][rows],
        "v_mid": pa.array(cols["v_mid"][rows], mask=cols["v_mid_null"][rows]),
        "v_high": pa.array(cols["v_high"][rows], mask=cols["v_high_null"][rows]),
        "s": pa.array(LABELS[cols["s"][rows]], type=pa.string(),
                      mask=cols["s_null"][rows]),
    })
    pq.write_table(table, path)
    return os.path.getsize(path)


def distinct_counts(keys, codes, null, n_keys) -> np.ndarray:
    """Exact number of distinct non-NULL codes per key."""
    ok = ~null
    span = int(codes.max()) + 1
    pairs = np.unique(keys[ok].astype(np.int64) * span + codes[ok])
    return np.bincount(pairs // span, minlength=n_keys)


# --- comparison helpers ---------------------------------------------------


def _by_key(rows, key_cols, val_col) -> dict:
    out = {}
    for r in rows:
        k = tuple(r[c] for c in key_cols)
        out[k[0] if len(k) == 1 else k] = r[val_col]
    return out


def _equal(name: str, got: dict, want: dict) -> str | None:
    bad = [(k, got.get(k, "<missing>"), want.get(k, "<missing>"))
           for k in sorted(set(got) | set(want), key=repr)
           if got.get(k, "<missing>") != want.get(k, "<missing>")]
    return f"{name}: {len(bad)} groups differ, first {bad[:3]}" if bad else None


def _within(name: str, got: dict, exact: dict, rsd: float) -> str | None:
    """Estimates (None or missing read as 0) within the error bound."""
    bad = [(k, got.get(k), exact.get(k, 0))
           for k in sorted(set(got) | set(exact), key=repr)
           if abs((got.get(k) or 0) - exact.get(k, 0))
           > ERR_SIGMAS * rsd * exact.get(k, 0) + 2]
    if not bad:
        return None
    return f"{name}: {len(bad)} groups outside {ERR_SIGMAS} x rsd {rsd:.4f}, first {bad[:3]}"


def _faithful(counts) -> dict:
    """The reference's output contract: decimal string, NULL on empty."""
    return {k: (str(int(c)) if c else None) for k, c in counts.items()}


def _nonzero(counts) -> dict:
    return {k: int(c) for k, c in counts.items() if c}


# --- hashset_volume -------------------------------------------------------


def volume(seed: int, size: str, work: str) -> Workload:
    n = ROWS[size]["hashset_volume"]
    cols = generate(seed, n)
    path = os.path.join(work, "volume.parquet")
    nbytes = write_parquet(cols, np.arange(n), path)
    exact = {
        c: dict(enumerate(distinct_counts(
            cols["g"], cols[c], cols[f"{c}_null"], N_GROUPS).tolist()))
        for c in ("v_mid", "v_high", "s")
    }

    def read(spark):
        return spark.read.parquet(path)

    def sql(spark, _out):
        read(spark).createOrReplaceTempView("perfbench_volume")
        return spark.sql("SELECT g, hashset_count(s) AS hashset_count "
                         "FROM perfbench_volume GROUP BY g")

    def auto(spark, _out):
        out, route = hashset_count_auto(read(spark), ["g"], "v_high")
        auto_op.notes["route"] = route
        return out

    auto_op = Op("auto_route", auto)
    ops = [
        Op("multi_distinct_df", lambda s, _o: hashset_count_df(
            read(s), ["g"], ["v_mid", "v_high", "s"])),
        Op("sql_hashset_count", sql),
        Op("jvm_agg", lambda s, _o: read(s).groupBy("g").agg(
            hashset_count_jvm_agg("s").alias("hashset_count"))),
        Op("rdd_twin", lambda s, _o: hashset_count_rdd(read(s), "g", "v_mid")),
        auto_op,
    ]
    value_of = {"sql_hashset_count": "s", "jvm_agg": "s", "rdd_twin": "v_mid",
                "auto_route": "v_high"}

    def check(_spark, results, _out_dir) -> dict[str, str | None]:
        res = {}
        for name, rows in results.items():
            if name == "multi_distinct_df":
                res[name] = next(filter(None, (
                    _equal(f"{name}.{c}", _by_key(rows, ["g"], f"hashset_count_{c}"),
                           _faithful(exact[c]))
                    for c in exact)), None)
            else:
                res[name] = _equal(name, _by_key(rows, ["g"], "hashset_count"),
                                   _faithful(exact[value_of[name]]))
        return res

    return Workload("hashset_volume", ops, check,
                    {"rows": n, "bytes": nbytes, "files": 1})


# --- hashset_incremental --------------------------------------------------

FINE = ["g", "d"]
COARSE = ["g"]
STATE_TYPES = ("exact", "hll", "aggstate")
#: Which input column each state type summarises.
SOURCE = {"exact": "v_mid", "hll": "s", "aggstate": "rows"}
#: The read-out column each state type's finalize emits.
VALUE = {"exact": "hashset_count", "hll": "approx_distinct", "aggstate": "n_rows"}
#: agg_state's top-k sketch is exact only while a cell's distinct keys
#: fit its item budget (see operators/aggstate.py); these cells hold
#: far more, so folded-vs-one-shot equality skips that column.
LOSSY = {"aggstate": {"top_keys"}}


def accumulate(kind: str, df):
    if kind == "exact":
        return distinct_state_accumulate(df, FINE, "v_mid")
    if kind == "hll":
        return distinct_sketch_table(df, FINE, "s", HLL_LG_K)
    return aggstate.agg_state_accumulate(df, FINE, "x", "s", lg_k=HLL_LG_K)


def merge(kind: str, states):
    """Fold unioned state rows back to the fine grain. HLL sketch
    tables fold by appending cells instead: the union happens in
    ``rollup_distinct_from_sketches`` at read-out."""
    if kind == "exact":
        return distinct_state_merge(states, FINE)
    return aggstate.agg_state_merge(states, FINE)


def finalize(kind: str, states, grain):
    """Read a stored state table out at ``grain``."""
    if kind == "exact":
        return distinct_state_count(distinct_state_merge(states, grain), grain)
    if kind == "hll":
        return rollup_distinct_from_sketches(states, grain)
    return aggstate.agg_state_finalize(aggstate.agg_state_merge(states, grain), grain)


def state_paths(out_dir: str, kind: str, batch: int) -> list[str]:
    """The state table(s) as of ``batch``. Each fold writes a new table,
    because Spark cannot overwrite a table it reads; an HLL sketch
    table is append-only, so its state is every batch's table."""
    first = 0 if kind == "hll" else batch
    return [os.path.join(out_dir, f"{kind}_state_{b}") for b in range(first, batch + 1)]


def read_state(spark, out_dir: str, kind: str, batch: int):
    return spark.read.parquet(*state_paths(out_dir, kind, batch))


def _fold_op(kind: str, b: int, batch_path: str) -> Op:
    def build(spark, out_dir):
        acc = accumulate(kind, spark.read.parquet(batch_path))
        if b == 0 or kind == "hll":
            return acc
        return merge(kind, read_state(spark, out_dir, kind, b - 1).unionByName(acc))

    def sink(df, out_dir):
        df.write.parquet(os.path.join(out_dir, f"{kind}_state_{b}"))

    return Op(f"{kind}.fold_batch{b}", build, sink)


def _finalize_op(kind: str) -> Op:
    return Op(f"{kind}.finalize_rollup", lambda spark, out_dir: finalize(
        kind, read_state(spark, out_dir, kind, BATCHES - 1), COARSE))


def check_state(name: str, kind: str, got: dict, exact: dict) -> str | None:
    """A state read out against exact counts of its source column."""
    counts = exact[SOURCE[kind]]
    if kind == "exact":  # one row per key that has rows, NULL when all-NULL
        return _equal(name, got, _faithful(
            {k: c for k, c in counts.items() if exact["rows"][k]}))
    if kind == "aggstate":
        return _equal(name, got, _nonzero(counts))
    return _within(name, got, counts, HLL_RSD)


def same_rows(name: str, got_rows, want_df, skip=()) -> str | None:
    """Folded state read out == the one-shot result, row for row."""
    keep = [c for c in want_df.columns if c not in skip]
    a = sorted(repr(tuple(r[c] for c in keep)) for r in got_rows)
    b = sorted(repr(tuple(r)) for r in want_df.select(*keep).collect())
    if a == b:
        return None
    first = next(((x, y) for x, y in zip(a, b) if x != y), (len(a), len(b)))
    return f"{name}: folded state differs from one-shot, first {first}"


def incremental(seed: int, size: str, work: str) -> Workload:
    n = ROWS[size]["hashset_incremental"]
    cols = generate(seed, n)
    batch_paths, nbytes = [], 0
    for b in range(BATCHES):
        p = os.path.join(work, f"batch_{b}.parquet")
        nbytes += write_parquet(cols, np.flatnonzero(cols["batch"] == b), p)
        batch_paths.append(p)

    def exact_upto(last_batch: int, fine: bool) -> dict[str, dict]:
        """Exact counts per key over batches 0..last_batch."""
        sel = cols["batch"] <= last_batch
        g, d = cols["g"][sel], cols["d"][sel]
        key = g * N_DAYS + d if fine else g
        n_keys = N_GROUPS * N_DAYS if fine else N_GROUPS
        out = {c: distinct_counts(key, cols[c][sel], cols[f"{c}_null"][sel], n_keys)
               for c in ("v_mid", "s")}
        out["rows"] = np.bincount(key, minlength=n_keys)
        name = (lambda k: (k // N_DAYS, k % N_DAYS)) if fine else (lambda k: k)
        return {c: {name(k): int(v) for k, v in enumerate(a)} for c, a in out.items()}

    ops = [_fold_op(kind, b, batch_paths[b])
           for b in range(BATCHES) for kind in STATE_TYPES]
    ops += [_finalize_op(kind) for kind in STATE_TYPES]

    def check_op(spark, name, rows, out_dir) -> str | None:
        kind, _, step = name.partition(".")
        if step == "finalize_rollup":
            one_shot = finalize(kind, accumulate(kind, spark.read.parquet(*batch_paths)),
                                COARSE)
            return check_state(
                name, kind, _by_key(rows, COARSE, VALUE[kind]),
                exact_upto(BATCHES - 1, fine=False)
            ) or same_rows(name, rows, one_shot, LOSSY.get(kind, ()))
        b = int(step.removeprefix("fold_batch"))
        got = finalize(kind, read_state(spark, out_dir, kind, b), FINE).collect()
        return check_state(name, kind, _by_key(got, FINE, VALUE[kind]),
                           exact_upto(b, fine=True))

    def check(spark, results, out_dir) -> dict[str, str | None]:
        """Each fold's state table, read out at the fine grain, must
        match the exact counts of the batches so far; each final rollup
        must match the exact counts and equal the same read-out of a
        state built in one shot from all batches. The read-outs are
        independent Spark jobs and run a few at a time."""
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            futures = {name: pool.submit(check_op, spark, name, rows, out_dir)
                       for name, rows in results.items()}
        res = {}
        for name, f in futures.items():  # a read-out that raised fails its op
            exc = f.exception()
            res[name] = f"check raised: {exc!r}" if exc else f.result()
        return res

    return Workload("hashset_incremental", ops, check,
                    {"rows": n, "bytes": nbytes, "files": BATCHES},
                    lambda out_dir: [p for k in STATE_TYPES
                                     for p in state_paths(out_dir, k, BATCHES - 1)])


BUILDERS = {"hashset_volume": volume, "hashset_incremental": incremental}
