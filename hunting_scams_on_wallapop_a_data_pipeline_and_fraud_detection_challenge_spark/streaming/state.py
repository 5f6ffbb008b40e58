"""Crash-safe versioned on-disk state for foreachBatch operators, and
the one fenced fold cycle every stateful gate runs over it (ST9's
bloom, ST13's key bloom, ST14's view, ST15's sketches, ST16's sample).
Each caller supplies only its merge algebra.

Storage:

- a state is a directory of ``v=<n>`` version dirs, each a parquet
  table whose ``_SUCCESS`` marker IS the commit;
- readers only ever open the newest COMMITTED version — a crash
  mid-write leaves a marker-less directory that is invisible;
- writers commit to a FRESH ``v=<latest+1>`` path and then prune all
  but the new version and its predecessor, so even a crash mid-prune
  can never leave zero committed versions;
- a pre-versioned flat layout (parquet files directly under the state
  dir) raises instead of silently reading as "no state" — treating
  corruption as first-batch would reset the operator's history.

Fold (``fold_state``): foreachBatch is at-least-once — a crash between
the state commit and the streaming commit-log write replays the batch
— and a signed sum or count would fold a replayed delta twice. So
every committed version carries the id of the last batch folded into
it (``applied_bid``, the fence) on every row, plus one sentinel row
whose data columns are all NULL so the fence survives an empty store.
The first column of a state schema is its key: a NULL key marks the
sentinel and never holds data. A batch at or below the fence folds
nothing and commits nothing. A version with no ``applied_bid`` column
(a seed, or a store written before fences) reads as unfenced.
``state_before`` gives a replayed batch the version its verdicts were
first computed against (the store keeps one predecessor), so probes
are replay-stable, not just the state.

Bucketed stores (``fold_bucketed``): ``state_dir/bucket=<k>``, each an
independently versioned and fenced store; a key's bucket is the pinned
portable hash of the schema's key column mod B, so a batch rewrites
only the buckets its keys touch and clean buckets do zero I/O.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h32


def committed_versions(spark: SparkSession, state_dir: str) -> list[int]:
    """COMMITTED state versions under ``state_dir`` (``v=<n>``
    directories containing a parquet ``_SUCCESS`` marker), ascending.

    Listing goes through the Hadoop FileSystem API so any scheme the
    checkpoint supports (local, HDFS, object stores with a committer)
    works. A missing ``state_dir`` is the one legitimate "no state yet"
    case and returns ``[]``; every OTHER failure mode (permissions,
    transient FS faults) propagates — silently treating corruption as
    "first batch" would reset the operator's history (ADVICE r09)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    legacy = False
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("v=")):
            # pre-versioned layouts wrote part-*.parquet + _SUCCESS
            # directly under state_dir; treating that as "no state"
            # would be exactly the silent history reset the versioned
            # layout exists to prevent
            if not st.isDirectory() and (
                name == "_SUCCESS" or name.endswith(".parquet")
            ):
                legacy = True
            continue
        try:
            n = int(name[2:])
        except ValueError:
            continue
        marker = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        if fs.exists(marker):
            out.append(n)
    if legacy and not out:
        raise ValueError(
            f"state at {state_dir!r} uses the pre-versioned flat "
            "layout; migrate it (move the parquet files into "
            f"{state_dir}/v=0/) instead of silently restarting with "
            "empty operator history"
        )
    return sorted(out)


def _read_version(
    spark: SparkSession, state_dir: str, v: int, schema: str
) -> DataFrame:
    """Committed version ``v`` read with the state ``schema``; a
    version written without the ``applied_bid`` column (a seed, or a
    store written before fences) reads it as NULL: unfenced."""
    return spark.read.schema(schema).parquet(f"{state_dir}/v={v}")


def _fence(version: DataFrame) -> int | None:
    """The id of the last batch folded into ``version`` (None: unfenced)."""
    return version.agg(F.max("applied_bid")).collect()[0][0]


def _data_rows(version: DataFrame) -> DataFrame:
    """A version's data rows: the NULL-key sentinel and the fence
    column removed."""
    cols = [c for c in version.columns if c != "applied_bid"]
    return version.filter(F.col(cols[0]).isNotNull()).select(*cols)


def _newest(spark: SparkSession, state_dir: str, schema: str) -> DataFrame:
    """The newest committed version, or an empty frame before the first."""
    versions = committed_versions(spark, state_dir)
    if not versions:
        return spark.createDataFrame([], schema)
    return _read_version(spark, state_dir, versions[-1], schema)


def read_state(spark: SparkSession, state_dir: str, schema: str) -> DataFrame:
    """The newest COMMITTED version's data rows, or an empty frame when
    no version has ever committed. Readers never see a mid-write state:
    a version directory only becomes visible here once its parquet
    ``_SUCCESS`` marker exists."""
    return _data_rows(_newest(spark, state_dir, schema))


def state_before(
    spark: SparkSession, state_dir: str, batch_id: int, schema: str
) -> DataFrame:
    """The data rows of the newest committed version whose fence is
    below ``batch_id``: the state a first run of the batch saw, and the
    predecessor when the batch is replayed, so a replayed batch cannot
    probe against its own folded rows."""
    for v in reversed(committed_versions(spark, state_dir)):
        version = _read_version(spark, state_dir, v, schema)
        fence = _fence(version)
        if fence is None or fence < batch_id:
            return _data_rows(version)
    return _data_rows(spark.createDataFrame([], schema))


def fold_state(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    schema: str,
    delta: DataFrame,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> None:
    """THE fenced read-merge-commit cycle: read the newest committed
    version; if ``batch_id`` is at or below its fence, do nothing;
    otherwise commit ``merge(rows, delta)`` (``rows`` = the stored data
    rows) as the next version, every row tagged with ``applied_bid`` =
    ``batch_id`` plus one all-NULL sentinel row. ``schema`` is the
    stored schema, fence column included; the sentinel's arity comes
    from the PARSED schema, so comma-bearing types stay safe."""
    state = _newest(spark, state_dir, schema)
    fence = _fence(state)
    if fence is not None and batch_id <= fence:
        return  # replayed batch: already folded into a committed version
    bid = F.lit(batch_id).cast("bigint")
    sentinel = spark.createDataFrame(
        [(None,) * len(state.columns)], schema
    ).withColumn("applied_bid", bid)
    merged = merge(_data_rows(state), delta).withColumn("applied_bid", bid)
    write_next_state(spark, merged.unionByName(sentinel), state_dir)


def write_next_state(
    spark: SparkSession, df: DataFrame, state_dir: str
) -> None:
    """Commit ``df`` as the next state version, crash-safely.

    The new table lands at ``state_dir/v=<latest+1>`` — a FRESH path,
    so a crash mid-write leaves the previous committed version intact
    and the partial new directory invisible (no ``_SUCCESS``); the
    switch is atomic from the reader's perspective (ADVICE r09: a plain
    ``mode("overwrite")`` of ``state_dir`` deleted the old state before
    the new write committed). After the commit, versions older than the
    previous one are pruned best-effort — the reader only ever opens
    the newest, and keeping one predecessor means even a crash mid-
    prune can never leave zero committed versions."""
    versions = committed_versions(spark, state_dir)
    new = (versions[-1] + 1) if versions else 0
    # mode("overwrite") only to reclaim an UNCOMMITTED leftover v=<new>
    # from a crashed writer; a committed v=<new> can't exist (versions
    # lists every committed dir and new is past the last one)
    df.coalesce(1).write.mode("overwrite").parquet(f"{state_dir}/v={new}")
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(state_dir).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    for n in versions[:-1]:  # keep the new version and its predecessor
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{state_dir}/v={n}"), True)


def key_bucket(col: Column, n_buckets: int) -> Column:
    """The pinned bucket of a state key: the shared portable hash mod
    B — deterministic across versions, sessions and engines, so a
    key's state can never migrate between bucket stores."""
    return (h32(col.cast("string")) % n_buckets).cast("int")


def fold_bucketed(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    schema: str,
    delta: DataFrame,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    n_buckets: int,
) -> None:
    """``fold_state`` over a bucketed store: the delta is bucketed on
    the schema's key column and materialized once (delta-sized), the
    dirty-bucket list is a bounded collect (<= B rows), and each dirty
    bucket runs the fenced cycle against ``state_dir/bucket=<k>``.
    Each bucket carries its own fence, so a replay after a crash that
    interrupted a multi-bucket commit folds each bucket exactly once;
    Structured Streaming replays the interrupted batch before any new
    one, so cross-bucket consistency is restored at recovery."""
    key = spark.createDataFrame([], schema).columns[0]
    parts = delta.withColumn(
        "bucket", key_bucket(F.col(key), n_buckets)
    ).localCheckpoint(eager=True)
    dirty = sorted(
        r["bucket"] for r in parts.select("bucket").distinct().collect()
    )
    for b in dirty:
        fold_state(
            spark,
            f"{state_dir}/bucket={b}",
            batch_id,
            schema,
            parts.filter(F.col("bucket") == b).drop("bucket"),
            merge,
        )


def read_bucketed(
    spark: SparkSession, state_dir: str, schema: str, n_buckets: int
) -> DataFrame:
    """A bucketed state's data rows across all bucket stores — a
    never-written bucket reads as empty."""
    out = None
    for b in range(n_buckets):
        part = read_state(spark, f"{state_dir}/bucket={b}", schema)
        out = part if out is None else out.unionByName(part)
    return out
