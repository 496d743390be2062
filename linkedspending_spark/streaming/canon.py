"""Streaming incremental canonicalization: fold sameAs waves into a store.

The batch pipeline canonicalizes with a full connected-components pass
(``operators/canon.py``); a deployment that keeps converting new
transcripts produces a steady trickle of new ``owl:sameAs`` edges
(dictionary links, LSH links, property aliases). Recomputing CC over
10^12 nodes per wave is absurd — this sink folds each micro-batch of
edges into a persistent ``(node, component)`` assignment store with
:func:`~linkedspending_spark.operators.canon.merge_components`:
O(wave) CC work plus one scan of the store per batch, never a shuffle
of the store.

Exactly-once, same construction as ``sink.py`` but keyed on batch
CONTENT, not the checkpoint-scoped batch id:

* each committed wave's manifest key is
  ``canon-batch-v<version>-<contenthash>`` where ``contenthash`` is an
  order-independent fingerprint of the batch's edge multiset
  (count + sum of ``xxhash64(src, dst)``). A bare batch id would be
  wrong across checkpoint resets: with a FRESH checkpoint against an
  existing manifest, numbering restarts at 0, and a batch holding NEW
  files would collide with an already-seen id and be silently dropped
  (round-3 ADVICE). Content keying skips a wave only when the SAME
  edge set replays — and re-applying an already-applied edge set is
  additionally harmless (``merge_components`` is idempotent on
  duplicate edges), so even a regrouped partial overlap stays correct;
* store versions are ``{store}/v=<k>`` with ``k`` monotonically
  increasing over COMMITTED versions (parsed back from the manifest
  key — ``n_rows`` holds the store's actual row count, not a smuggled
  pointer); each version is written with ``mode("overwrite")`` — a
  replayed micro-batch (restart from the streaming checkpoint, or a
  crash between the data commit and the manifest record) rebuilds the
  next uncommitted version directory from the last *committed* one, so
  replays are idempotent rather than compounding;
* the manifest row is recorded AFTER the data commit; committed state
  is resolved ONCE at stream start and then tracked driver-side.

Per-batch cost: CC over O(wave) rows, plus one scan and one rewrite of
the store (the versioned-parquet sandbox stand-in has no MERGE). On a
table format with row-level merge (Iceberg/Delta),
``merge_components(..., changed_only=True)`` returns exactly the upsert
set, making the store maintenance O(affected) too — the versioning and
manifest protocol here stay the same.

Reference analog: the createlinks/Upload loop re-derives links per
dataset as datasets arrive (SURVEY.md §2 J6); this is that loop's
10^12-scale shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.canon import merge_components
from ..sources.local import local_frame
from ..sources.manifest import ManifestStore, new_run_id

EDGE_SCHEMA = "src string, dst string"
_KEY_PREFIX = "canon-batch-"

ASSIGNMENT_SCHEMA = "node string, component string"


def read_assignments(
    spark: SparkSession, store_path: str, manifest_path: str
) -> DataFrame:
    """The latest committed assignment map (empty DataFrame if none).

    The manifest is authoritative (same rule as bucket counts,
    serve.py): a version directory without its manifest row is an
    uncommitted replay remnant and is never read.
    """
    version, _ = _committed_state(ManifestStore(spark, manifest_path))
    if version is None:
        return local_frame(spark, [], ASSIGNMENT_SCHEMA)
    return spark.read.schema(ASSIGNMENT_SCHEMA).parquet(
        f"{store_path}/v={version}"
    )


def _committed_state(store: ManifestStore) -> tuple[int | None, set[str]]:
    """(latest committed version, committed content hashes) from the
    manifest's ``canon-batch-v<version>-<contenthash>`` keys."""
    rows = (
        store.read()
        .where(F.col("dataset").startswith(_KEY_PREFIX))
        .select("dataset")
        .distinct()
        .collect()
    )
    latest: int | None = None
    hashes: set[str] = set()
    legacy: list[str] = []
    for r in rows:
        rest = r["dataset"][len(_KEY_PREFIX):]
        if not rest.startswith("v") or "-" not in rest:
            legacy.append(r["dataset"])
            continue
        vtxt, h = rest[1:].split("-", 1)
        try:
            v = int(vtxt)
        except ValueError:
            legacy.append(r["dataset"])
            continue
        hashes.add(h)
        latest = v if latest is None else max(latest, v)
    if legacy and latest is None:
        # a store written ONLY in the pre-content-key format (bare
        # 'canon-batch-<id>' with the version smuggled through n_rows):
        # silently returning (None, {}) would restart at v0 and
        # OVERWRITE the committed assignment map — refuse instead
        raise ValueError(
            f"manifest holds {len(legacy)} legacy canon-batch row(s) "
            f"(e.g. {legacy[0]!r}) from the pre-content-key format; "
            "start a fresh manifest/store pair or migrate the rows to "
            "'canon-batch-v<version>-<contenthash>' before streaming"
        )
    return latest, hashes


def _content_key(batch_df: DataFrame) -> str:
    """Order-independent fingerprint of the batch's edge multiset
    (count + sum of per-edge xxhash64) — stable across checkpoint
    resets and file-list reorderings, unlike the micro-batch id."""
    row = batch_df.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal accumulator: a long sum of xxhash64 values overflows
        # under ANSI mode after a handful of edges
        F.sum(F.xxhash64("src", "dst").cast("decimal(20,0)")).alias("s"),
    ).collect()[0]
    n = int(row["n"] or 0)
    s = int(row["s"] or 0) % (1 << 64)
    return f"{n}x{s:016x}"


def stream_sameas_merge(
    spark: SparkSession,
    in_path: str,
    store_path: str,
    manifest_path: str,
    checkpoint_path: str,
    max_files: int = 1,
) -> dict:
    """Drive the edge stream to completion, folding waves into the store.

    ``in_path``: directory of parquet edge files (``src``, ``dst``).
    Returns ``{"batches": n, "skipped": n, "version": latest}``.
    Synchronous (tests/backfill); a deployment would ``.start()`` and
    let it run.
    """
    store = ManifestStore(spark, manifest_path)
    run_id = new_run_id()
    latest, seen_hashes = _committed_state(store)
    state = {"version": latest, "hashes": seen_hashes}
    stats = {"batches": 0, "skipped": 0}

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        h = _content_key(batch_df)
        if h in state["hashes"]:
            stats["skipped"] += 1
            return
        if state["version"] is None:
            current = local_frame(spark, [], ASSIGNMENT_SCHEMA)
        else:
            current = spark.read.schema(ASSIGNMENT_SCHEMA).parquet(
                f"{store_path}/v={state['version']}"
            )
        merged = merge_components(current, batch_df)
        version = 0 if state["version"] is None else state["version"] + 1
        # idempotent by construction: the next uncommitted version dir
        # is overwritten; a crash before the manifest record leaves an
        # orphan that the replay (same committed base -> same version
        # number) rebuilds in place. Observation rides the write action
        # so n_rows is the store's REAL row count, at zero extra scans.
        from pyspark.sql import Observation

        obs = Observation()
        merged.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(f"{store_path}/v={version}")
        store.record(
            dataset=f"{_KEY_PREFIX}v{version}-{h}",
            n_rows=int(obs.get["n"] or 0),
            n_triples=None,
            run_id=run_id,
        )
        state["hashes"].add(h)
        state["version"] = version
        stats["batches"] += 1

    stream = (
        spark.readStream.schema(EDGE_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(in_path)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return {**stats, "version": state["version"]}
