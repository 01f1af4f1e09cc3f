"""One-call session initialization: the reference engine's
``CREATE AGGREGATE FUNCTION ... LOCATION '...so' UPDATE_FN='...'``
(`/root/reference/README.md:25-33`) installs `count300k` into Impala's
catalog ONCE and every later session finds it by name. Spark's
function catalog is session-scoped for programmatically-registered
UDAFs (a persistent ``CREATE FUNCTION ... USING JAR`` needs a
Hive-backed catalog and a `UserDefinedAggregateFunction`-shaped class,
neither of which this engine's `Aggregator`/pandas tiers map onto), so
the deployment parity is an INIT-HOOK convention instead:

    from impala_hashset_count_spark.register import register_all
    spark = SparkSession.builder.getOrCreate()
    register_all(spark)

wired wherever sessions are born — an application's session factory
or a notebook kernel's startup script. (``spark.python.daemon.module``
is taken: ``session.get_spark`` points it at ``worker_daemon``, which
keeps Python workers from re-reading unchanged zip archives per task.)
After the one call, the whole SQL surface of this package is live:

- ``hashset_count(col)`` — the faithful pandas UDAF (tier b), the
  direct analogue of the reference's registered aggregate: exact
  distinct count, decimal-STRING result, NULL-skip / ""-counts /
  NULL-on-empty semantics (`hashset-count.cc:464-524`).
- ``hashset_count_jvm(col)`` — the JVM `Aggregator` tier (compiled
  on first use, shipped via addJar; best-effort — absent a JDK the
  pandas tier carries the same contract).
- ``split_sentences(text)`` — the LATERAL-joinable UDTF surface.
- the package zip on every Python worker (``ship_package``), so
  closure-by-reference operators import cleanly cluster-wide.

Every piece is idempotent: calling ``register_all`` on an
already-initialized session is a no-op, so factories can call it
unconditionally.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .functions.udtfs import register_udtfs
from .operators.hashset_count import register_sql_udaf
from .operators.jvm_udaf import DEFAULT_NAME, try_register_jvm_udaf
from .session import ship_package


def register_all(spark: SparkSession, jvm: bool = True) -> dict[str, bool]:
    """Install the package's whole SQL surface into ``spark``.

    Returns a dict of surface -> live flag. Everything except the JVM
    tier always succeeds; ``jvm`` is best-effort (False when no
    JDK/jar is reachable) and callers that need it hard can assert on
    the returned flag. ``jvm=False`` skips the compile probe entirely
    for pure-Python deployments."""
    ship_package(spark)
    register_sql_udaf(spark)
    register_udtfs(spark)
    jvm_ok = try_register_jvm_udaf(spark) if jvm else False
    return {
        "hashset_count": True,
        DEFAULT_NAME: jvm_ok,
        "split_sentences": True,
        "package_shipped": True,
    }
