"""Incremental ingest with real checkpoints (SURVEY §2.9).

The reference's incremental state is a hand-rolled text watermark:
`runLog.txt` holds the last run date (bronzeLayer/BuildBronzeLayer.py:199-201),
read back via DataRunParams (bronzeLayer/DataRunParams.py:39-48) and pushed
into the FDIC query predicate `REPDTE:[prevRun TO currentRun]`
(bronzeLayer/BankData.py:82-83). Two engine-native replacements:

- `incremental_files`: Structured Streaming over a file source with
  Trigger.AvailableNow + checkpoint -- exactly-once incremental batch over
  landed files; Spark tracks which files were processed, no runLog.txt.
- `Watermark`: a durable key->value watermark store for source predicates
  that must be pushed OUTSIDE Spark (e.g. the REST ingest window). Atomic
  single-writer file semantics; replace with a table/DynamoDB at scale.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class Watermark:
    """Durable watermark store (runLog.txt replacement, observable + atomic).

    Storage routing: a scheme-qualified path (``file://``, ``hdfs://``,
    ``s3a://`` ...) plus a SparkSession routes reads/writes through the
    Hadoop FileSystem bound to that path -- on a cluster the run state
    MUST live on shared storage, and a driver-local ``open()`` would
    silently fork state per driver host. A bare local path keeps the
    plain-POSIX fast path (mkstemp + atomic ``os.replace``).

    Write protocol on the Hadoop path: write ``<path>.tmp`` fully, then
    rename the CURRENT state to ``<path>.bak`` and rename the tmp onto
    the target. Hadoop's rename won't overwrite, so a swap needs the
    target clear -- but parking the old state as ``.bak`` (instead of
    deleting it) means there is NO window in which no state file exists:
    a crash between the two renames leaves ``.bak``, and ``_read_state``
    recovers from it when the main file is missing. Writes follow this
    store's single-writer contract (one ingest driver advances a given
    store -- the same contract runLog.txt had); readers see the old
    state or the new state, never a partial file and never an empty
    store.
    """

    def __init__(self, path: str, spark: SparkSession | None = None):
        self.path = path
        self.spark = spark

    def _hadoop(self):
        """(jvm, fs, path) when routing through Hadoop, else None."""
        if self.spark is None or "://" not in self.path:
            return None
        try:
            jvm = self.spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(self.path)
            fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
            return jvm, fs, hpath
        except Exception:  # noqa: BLE001 - e.g. Spark Connect: no JVM handle
            return None

    def _read_state(self) -> dict:
        h = self._hadoop()
        if h is not None:
            jvm, fs, hpath = h
            if not fs.exists(hpath):
                # crash-window recovery: the swap parks the previous
                # state as .bak before renaming the new file in; if the
                # writer died between the two renames, .bak IS the state
                bak = jvm.org.apache.hadoop.fs.Path(self.path + ".bak")
                if not fs.exists(bak):
                    return {}
                hpath = bak
            stream = fs.open(hpath)
            try:
                data = bytes(stream.readAllBytes())
            finally:
                stream.close()
            return json.loads(data.decode("utf-8"))
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def _write_state(self, state: dict) -> None:
        h = self._hadoop()
        if h is not None:
            jvm, fs, hpath = h
            tmp = jvm.org.apache.hadoop.fs.Path(self.path + ".tmp")
            out = fs.create(tmp, True)
            try:
                out.write(bytearray(json.dumps(state).encode("utf-8")))
            finally:
                out.close()
            # crash-safe swap: park the old state as .bak (never a
            # no-state window), then rename the new file in. A stale
            # .bak is only ever read when the main file is missing --
            # exactly the crash window where it IS the correct state.
            bak = jvm.org.apache.hadoop.fs.Path(self.path + ".bak")
            if fs.exists(hpath):
                if fs.exists(bak):
                    fs.delete(bak, False)
                if not fs.rename(hpath, bak):
                    raise IOError(f"watermark backup failed: {hpath} -> {bak}")
            if not fs.rename(tmp, hpath):
                raise IOError(f"watermark rename failed: {tmp} -> {hpath}")
            # install succeeded: remove the parked .bak so an INTENTIONAL
            # later reset (operator deletes the main state file) starts
            # from {} instead of silently resurrecting stale state. A
            # crash between the two renames still leaves .bak in place
            # for recovery -- this delete only runs after the new state
            # is durably the main file.
            if fs.exists(bak):
                fs.delete(bak, False)
            return
        d = os.path.dirname(self.path) or "."
        fd, tmp = tempfile.mkstemp(dir=d)
        with os.fdopen(fd, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)  # atomic on POSIX

    def get(self, key: str, default: str | None = None) -> str | None:
        return self._read_state().get(key, default)

    def advance(self, key: str, value: str) -> None:
        state = self._read_state()
        prev = state.get(key)
        if prev is not None and value < prev:
            raise ValueError(f"watermark {key} cannot regress: {prev} -> {value}")
        state[key] = value
        self._write_state(state)


def _storage_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe that honors ANY storage scheme Spark supports
    (file://, hdfs://, s3a://, ...) by asking the Hadoop FileSystem bound
    to the path -- os.path.exists() is only correct for the local scheme,
    and a silently-false probe on object storage would make history-aware
    operators (streaming_near_dedup's index check) quietly no-op."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(hpath))
    except Exception:  # noqa: BLE001 - e.g. Spark Connect: no JVM handle
        return os.path.exists(path)


def incremental_files(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    batch_fn: Callable[[DataFrame, int], None],
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> None:
    """Process only files not seen by previous runs, then stop.

    Structured Streaming file source + Trigger.AvailableNow: the checkpoint
    records processed files, so re-running after new files land processes
    exactly the delta -- the engine-native version of the reference's
    quarter-by-quarter NCUA loop (bronzeLayer/CreditUnionData.py:57-66).
    `batch_fn(df, batch_id)` is the foreachBatch body (write bronze, etc.).
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(source_dir)
    q = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_upsert(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    target_dir: str,
    keys: list[str],
    version_col: str,
    fmt: str = "parquet",
) -> None:
    """Continuously MERGE newly-landed files into a keyed snapshot table.

    foreachBatch composition of `incremental_files` + `merge_upsert`
    (latest `version_col` wins): each micro-batch is first collapsed to one
    row per key, then merged into the current snapshot, which is rewritten
    via write-then-atomic-rename so readers never see a partial table.
    The streaming-native replacement for the reference's overwrite-silver
    rerun (silverLayer/BuildSilverLayer.py:336-337) -- only new files are
    read, and redelivered batches are idempotent because the merge is a
    pure latest-wins function of (snapshot, batch).

    At scale the parquet swap becomes `MERGE INTO` on a Delta/Iceberg
    target partitioned by a key prefix; the foreachBatch shape is identical.
    """
    from ..operators.temporal import merge_upsert

    current = os.path.join(target_dir, "current")

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        batch = merge_upsert(batch.limit(0), batch, keys, version_col)
        if os.path.exists(current):
            base = spark.read.schema(schema).parquet(current)
            merged = merge_upsert(base, batch, keys, version_col)
        else:
            merged = batch
        staged = os.path.join(target_dir, f"_stage_{batch_id}")
        merged.write.mode("overwrite").parquet(staged)
        if os.path.exists(current):
            retired = os.path.join(target_dir, f"_retired_{batch_id}")
            os.replace(current, retired)
            os.replace(staged, current)
            import shutil

            shutil.rmtree(retired, ignore_errors=True)
        else:
            os.replace(staged, current)

    incremental_files(
        spark, source_dir, checkpoint_dir, schema, merge_batch, fmt=fmt
    )


def streaming_cdc_apply(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    target_dir: str,
    keys: list[str],
    order_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    fmt: str = "parquet",
    tombstone_keep: str | None = None,
) -> None:
    """Continuously apply a CDC change stream (upserts AND deletes) to a
    keyed snapshot table.

    foreachBatch composition of `incremental_files` + `latest_changes`:
    each micro-batch is compacted to its per-key latest change, unioned
    with the stored state, and re-compacted -- latest (order_cols) wins
    because every row carries its real order keys. A key whose latest
    change is a delete DISAPPEARS from the live table, which
    `streaming_upsert` (insert/update only) cannot express.

    The stored state KEEPS tombstones (the compacted-log shape): without
    them, a redelivered batch holding an older upsert would resurrect a
    key deleted by a newer change the snapshot no longer remembers. Live
    rows are published separately (``target/current``, op filtered) next
    to the full state (``target/state``).

    State is O(live keys + retained tombstones), never O(events): each
    batch re-compacts to one row per key. `tombstone_keep` bounds the
    tombstone term -- a SQL boolean over state columns (typically the
    redelivery horizon on the order column, e.g. ``"seq >= 1000"`` or an
    event-time cutoff); delete rows where it is false are dropped from
    state after compaction. Expiring a tombstone the source can still
    redeliver behind risks resurrecting the key -- pick the horizon from
    the source's redelivery guarantee, exactly like Debezium/Kafka
    compaction retention. Default None retains tombstones forever.

    Same atomic write-then-rename publish as streaming_upsert; at scale
    the state becomes a Delta/Iceberg target and the swap `MERGE INTO
    ... WHEN MATCHED [AND op = 'D'] THEN DELETE` -- the foreachBatch
    shape and the per-batch compaction are identical.
    """
    from ..operators.temporal import latest_changes

    current = os.path.join(target_dir, "current")
    state = os.path.join(target_dir, "state")

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        compacted = latest_changes(batch, keys, order_cols)
        if os.path.exists(state):
            base = spark.read.schema(schema).parquet(state)
            compacted = latest_changes(
                base.unionByName(compacted), keys, order_cols
            )
        if tombstone_keep is not None:
            compacted = compacted.filter(
                (F.col(op_col) != delete_op) | F.expr(tombstone_keep)
            )
        staged = os.path.join(target_dir, f"_stage_{batch_id}")
        compacted.write.mode("overwrite").parquet(staged)
        staged_live = os.path.join(target_dir, f"_stage_live_{batch_id}")
        spark.read.schema(schema).parquet(staged).filter(
            F.col(op_col) != delete_op
        ).write.mode("overwrite").parquet(staged_live)
        _swap(state, staged, batch_id, "_retired_state_")
        _swap(current, staged_live, batch_id, "_retired_live_")

    def _swap(dest: str, staged: str, batch_id: int, retired_prefix: str) -> None:
        import shutil

        if os.path.exists(dest):
            retired = os.path.join(target_dir, f"{retired_prefix}{batch_id}")
            os.replace(dest, retired)
            os.replace(staged, dest)
            shutil.rmtree(retired, ignore_errors=True)
        else:
            os.replace(staged, dest)

    incremental_files(
        spark, source_dir, checkpoint_dir, schema, apply_batch, fmt=fmt
    )


def streaming_near_dedup(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    target_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
) -> None:
    """Streaming near-duplicate dedup against ALL history: each micro-batch
    is (1) deduped within itself (MinHash-LSH pairs, keep-min), then (2)
    checked against the persisted signature index -- history never
    re-shingles; the index side of the candidate join reuses stored
    signatures (`incremental_near_dup_pairs`). Survivors append to
    `target_dir/clean` and their signatures to `target_dir/index`, so the
    next batch (or the next run -- the file-source checkpoint makes runs
    incremental) dedups against everything ever accepted.

    This is the 100 TB streaming-ingest shape: per batch the work is
    O(batch signatures) + O(candidate pairs vs index buckets), never a
    rescan of the corpus. Writes are idempotent per batch: each batch
    lands in its own ``batch=<id>`` partition directory with overwrite
    semantics, so a redelivered foreachBatch (same batch_id after a
    failure) REPLACES its partition instead of double-appending
    survivors/signatures -- exactly-once table contents from an
    at-least-once trigger, the same discipline a Delta
    ``txnAppId/txnVersion`` write gives, without the table format.
    Readers see ``batch`` as a discovered partition column.
    """
    from ..operators.dedup import (
        build_minhash_index,
        drop_near_dups,
        incremental_near_dup_pairs,
        minhash_near_dup_pairs,
    )

    clean_dir = os.path.join(target_dir, "clean")
    index_dir = os.path.join(target_dir, "index")

    def dedup_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        intra_pairs = minhash_near_dup_pairs(
            batch, id_col, text_col, threshold, num_hashes, bands, shingle_k
        )
        survivors = drop_near_dups(batch, intra_pairs, id_col)
        if _storage_path_exists(spark, index_dir):
            # drop this batch's own partitions from the history view so a
            # REDELIVERED batch doesn't dedup against its previous attempt
            index_sigs = spark.read.parquet(index_dir)
            if "batch" in index_sigs.columns:
                index_sigs = index_sigs.filter(
                    F.col("batch") != batch_id
                ).drop("batch")
            cross = incremental_near_dup_pairs(
                survivors,
                index_sigs,
                id_col,
                text_col,
                threshold,
                num_hashes,
                bands,
                shingle_k,
            )
            dup_ids = cross.select(F.col("new_id").alias(id_col)).distinct()
            survivors = survivors.join(dup_ids, id_col, "left_anti")
        survivors = survivors.persist()
        survivors.write.mode("overwrite").parquet(
            os.path.join(clean_dir, f"batch={batch_id}")
        )
        build_minhash_index(
            survivors, id_col, text_col, num_hashes, shingle_k
        ).write.mode("overwrite").parquet(
            os.path.join(index_dir, f"batch={batch_id}")
        )
        survivors.unpersist()

    incremental_files(spark, source_dir, checkpoint_dir, schema, dedup_batch)


# ---------------------------------------------------------------------------
# Streaming frequency monitor: Count-Min state maintained as per-batch
# partitions, merged on read (counters are a sum-monoid, so the merged
# view is the exact sketch of everything ever ingested).
# ---------------------------------------------------------------------------


def streaming_count_min(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    state_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    batch_candidates: int = 64,
) -> None:
    """Maintain a streaming Count-Min frequency sketch + candidate key
    set over a file stream (Trigger.AvailableNow, so each run processes
    exactly the new files).

    State layout is the r4 idempotency discipline: every micro-batch
    writes its OWN ``batch=<id>`` partition (overwrite semantics), so a
    redelivered batch REPLACES its partition instead of double-counting
    -- and because CM counters merge by element-wise sum, the merged
    read (`streaming_count_min_state`) is always the exact sketch of
    the exactly-once table contents. No read-modify-write of global
    state ever happens, which also makes concurrent readers safe.

    Bounded state: the sketch is O(depth * width) per batch; candidates
    are the per-batch top-`batch_candidates` keys by exact batch count
    (a key that is globally heavy is heavy in some batch -- the
    standard CM+candidates top-k recipe; raise `batch_candidates` for
    adversarially flat streams).
    """
    from ..operators.sketches import count_min_table

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        cm = count_min_table(df, key_col, depth, width)
        cm.write.mode("overwrite").parquet(
            os.path.join(state_dir, "cm", f"batch={batch_id}")
        )
        cand = (
            df.filter(F.col(key_col).isNotNull())
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .orderBy(F.desc("__n"), F.asc(key_col))
            .limit(batch_candidates)
            .select(key_col)
        )
        cand.write.mode("overwrite").parquet(
            os.path.join(state_dir, "cand", f"batch={batch_id}")
        )

    incremental_files(spark, source_dir, checkpoint_dir, schema, batch_fn)


def streaming_count_min_state(
    spark: SparkSession, state_dir: str, key_col: str
) -> tuple[DataFrame, DataFrame]:
    """(merged_cm, candidate_keys): the exact element-wise-sum merge of
    every batch partition, and the distinct candidate set."""
    cm = (
        spark.read.parquet(os.path.join(state_dir, "cm"))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    cand = (
        spark.read.parquet(os.path.join(state_dir, "cand"))
        .select(key_col)
        .distinct()
    )
    return cm, cand


def streaming_topk_estimates(
    spark: SparkSession,
    state_dir: str,
    key_col: str,
    k: int = 10,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Top-k keys by CM estimate over the merged streaming state --
    estimates never undercount (CM invariant), deterministic tie-break
    on the key."""
    from ..operators.sketches import count_min_estimate

    cm, cand = streaming_count_min_state(spark, state_dir, key_col)
    est = count_min_estimate(cm, cand, key_col, depth, width)
    return est.orderBy(F.desc("est_n"), F.asc(key_col)).limit(k)


def streaming_bloom(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    state_dir: str,
    key_col: str,
    m_bits: int = 16384,
    k: int = 4,
) -> None:
    """Maintain a streaming Bloom membership filter over a file stream
    (Trigger.AvailableNow) -- "have we EVER seen this key" at O(m_bits)
    state no matter how many keys the stream carries, the first-pass
    gate in front of exact incremental dedup.

    Same idempotency discipline as streaming_count_min: each micro-batch
    writes its own ``batch=<id>`` bitmap partition (overwrite), so a
    redelivered batch REPLACES its partition instead of corrupting
    state; because bitmaps merge by per-word bit_or -- an idempotent,
    commutative monoid -- the merged read is always the exact filter of
    the exactly-once table contents, and double-merging a batch would
    not even change the answer (OR is idempotent, unlike CM's sums).
    """
    from ..operators.sketches import bloom_bitmap

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        bm = bloom_bitmap(df, key_col, m_bits=m_bits, k=k)
        bm.write.mode("overwrite").parquet(
            os.path.join(state_dir, "bloom", f"batch={batch_id}")
        )

    incremental_files(spark, source_dir, checkpoint_dir, schema, batch_fn)


def streaming_bloom_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged (word, bits) bitmap: per-word bit_or over every batch
    partition."""
    return (
        spark.read.parquet(os.path.join(state_dir, "bloom"))
        .groupBy("word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )


def streaming_log_histogram(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    state_dir: str,
    value_col: str,
    group_cols: tuple = (),
    sub: int = 16,
) -> None:
    """Maintain a streaming log-bucket quantile sketch over a file
    stream (Trigger.AvailableNow) -- the r7 VERDICT #4 closure: the
    q176/q177 histogram's bucket edges are DATA-INDEPENDENT, so
    per-batch histograms merge by summing counts with no range pass,
    which makes it the same batch=<id> sum-monoid shape as
    streaming_count_min (and the last batch-only sketch gets its
    streaming twin).

    Same idempotency discipline: each micro-batch writes its OWN
    ``batch=<id>`` partition with overwrite semantics, so a redelivered
    batch REPLACES its partition instead of double-counting; the merged
    read (`streaming_log_histogram_state`) is therefore always the
    exact sketch of the exactly-once table contents. State is
    O(60 * sub * groups) rows per batch regardless of stream volume.
    """
    from ..operators.sketches import log_histogram

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        hist = log_histogram(df, value_col, group_cols=group_cols, sub=sub)
        hist.write.mode("overwrite").parquet(
            os.path.join(state_dir, "loghist", f"batch={batch_id}")
        )

    incremental_files(spark, source_dir, checkpoint_dir, schema, batch_fn)


def streaming_log_histogram_state(
    spark: SparkSession, state_dir: str, group_cols: tuple = ()
) -> DataFrame:
    """Merged (group..., lbin, n) histogram: sum of every batch
    partition -- feed straight to `log_histogram_quantiles`."""
    return (
        spark.read.parquet(os.path.join(state_dir, "loghist"))
        .groupBy(*group_cols, "lbin")
        .agg(F.sum("n").alias("n"))
    )


def streaming_quantile_estimates(
    spark: SparkSession,
    state_dir: str,
    probs_permille: list[int],
    group_cols: tuple = (),
    sub: int = 16,
) -> DataFrame:
    """(group..., p_permille, quantile_est) over the merged streaming
    state -- identical arithmetic to the batch extractor by
    construction (it IS the batch extractor)."""
    from ..operators.sketches import log_histogram_quantiles

    hist = streaming_log_histogram_state(spark, state_dir, group_cols)
    return log_histogram_quantiles(
        hist, probs_permille, sub=sub, group_cols=group_cols
    )


def streaming_scd2(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    state_dir: str,
    key_col: str,
    state_col: str,
    ts_col: str,
    order_tiebreak: list[str] | None = None,
) -> None:
    """Maintain an SCD Type-2 dimension from a streaming event log --
    the merge-on-read discipline: each micro-batch appends its RAW
    change events to its own ``batch=<id>`` partition (overwrite on
    redelivery, so retries replace rather than duplicate), and the
    interval view is produced ON READ by the SAME `scd2_compact`
    operator q205 grades -- so streaming == batch is by construction,
    and late/out-of-order events are handled for free (compaction
    re-sorts by (ts, tiebreak), which per-batch interval-closing logic
    cannot do without rewriting history).

    State growth is the EVENT LOG, not a sketch monoid -- this is a
    bronze change log, the thing incremental ingest already persists;
    cadence-compact it like any bronze table (rewrite old batches into
    one base partition; the extractor is insensitive to how rows are
    distributed across partitions).
    """
    keep = [key_col, state_col, ts_col, *(order_tiebreak or [])]

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        df.select(*keep).write.mode("overwrite").parquet(
            os.path.join(state_dir, "scd2log", f"batch={batch_id}")
        )

    incremental_files(spark, source_dir, checkpoint_dir, schema, batch_fn)


def streaming_scd2_state(
    spark: SparkSession,
    state_dir: str,
    key_col: str,
    state_col: str,
    ts_col: str,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Current SCD2 interval table over the merged change log --
    identical to batch `scd2_compact` over the same rows by
    construction (it IS the batch operator)."""
    from ..operators.temporal import scd2_compact

    log = spark.read.parquet(os.path.join(state_dir, "scd2log"))
    return scd2_compact(
        log, key_col, state_col, ts_col, order_tiebreak=order_tiebreak
    )


def streaming_key_counts(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    state_dir: str,
    key_col: str,
) -> None:
    """Maintain streaming per-key multiplicities for the q217 skew
    report -- counts are a pure sum monoid, so this is the
    streaming_count_min/log_histogram shape verbatim: each micro-batch
    writes its OWN ``batch=<id>`` count partition (overwrite on
    redelivery -> replace, never double-count); state per batch is
    bounded by DISTINCT KEYS in the batch, not rows."""

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        counts = (
            df.filter(F.col(key_col).isNotNull())
            .groupBy(F.col(key_col).alias("__k"))
            .agg(F.count(F.lit(1)).cast("long").alias("__m"))
        )
        counts.write.mode("overwrite").parquet(
            os.path.join(state_dir, "keycounts", f"batch={batch_id}")
        )

    incremental_files(spark, source_dir, checkpoint_dir, schema, batch_fn)


def streaming_key_skew_report(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """The q217 skew report over the merged streaming count state --
    identical arithmetic to batch key_skew_report by construction
    (it IS skew_report_from_counts on the summed partitions)."""
    from ..operators.analytics import skew_report_from_counts

    merged = (
        spark.read.parquet(os.path.join(state_dir, "keycounts"))
        .groupBy("__k")
        .agg(F.sum("__m").cast("long").alias("__m"))
    )
    return skew_report_from_counts(merged)


def streaming_sum_delta(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    state_dir: str,
    key_cols: list[str],
    sum_cols: list[str],
) -> None:
    """Streaming incremental view maintenance for a sum/count rollup
    (the q226 surface): each micro-batch aggregates ITS rows to the
    state grain (one sum per ``sum_cols`` column per key) and writes
    its own ``batch=<id>`` delta partition -- overwrite on redelivery
    means replace, never double-count (the house
    count_min/log_histogram/key_counts shape verbatim).  Deltas are
    the canonical streaming input for `apply_sum_delta`: state per
    batch is bounded by DISTINCT GRAIN KEYS in the batch, not rows.
    """

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        delta = df.groupBy(*[F.col(k) for k in key_cols]).agg(
            *[F.sum(c).cast("long").alias(c) for c in sum_cols]
        )
        delta.write.mode("overwrite").parquet(
            os.path.join(state_dir, "sumdelta", f"batch={batch_id}")
        )

    incremental_files(spark, source_dir, checkpoint_dir, schema, batch_fn)


def streaming_sum_delta_state(
    spark: SparkSession,
    state_dir: str,
    key_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Merge-on-read extraction of the streaming sum-delta state: fold
    the batch partitions through `apply_sum_delta` itself -- the
    extractor IS the batch operator (the streaming==batch discipline),
    so streaming maintenance equals the monolithic recompute EXACTLY
    by q226's own two-strategy equality.  Sum is a monoid, so the
    fold order is irrelevant and a production deployment compacts by
    periodically REPLACING a prefix of batch partitions with their
    fold (same operator); here the fold is left-to-right over batch
    ids.  NULL grain keys merge via apply_sum_delta's eqNullSafe."""
    from ..operators.temporal import apply_sum_delta

    root = os.path.join(state_dir, "sumdelta")
    all_parts = spark.read.parquet(root)
    batch_ids = sorted(
        r["batch"] for r in all_parts.select("batch").distinct().collect()
    )
    merged = None
    for b in batch_ids:
        part = all_parts.filter(F.col("batch") == b).drop("batch")
        merged = (
            part
            if merged is None
            else apply_sum_delta(merged, part, key_cols, sum_cols)
        )
    return merged


def streaming_top_key_shares(
    spark: SparkSession, state_dir: str, top_k: int = 20
) -> DataFrame:
    """The conform.top_key_shares drill-down over the merged streaming
    key-count state (the q217 monitor's ``batch=<id>`` sum-monoid
    partitions): per-key totals sum across batches, the total derives
    from the summed counts (never a second scan), shares floor at 1e-6
    -- identical arithmetic to the batch operator on the union of all
    input, by construction."""
    merged = (
        spark.read.parquet(os.path.join(state_dir, "keycounts"))
        .groupBy("__k")
        .agg(F.sum("__m").cast("long").alias("n_rows"))
    )
    total = merged.agg(F.sum("n_rows").cast("long").alias("__total"))
    return (
        merged.crossJoin(F.broadcast(total))
        .withColumn(
            "share",
            F.floor(F.col("n_rows") / F.col("__total") * 1000000) / 1000000,
        )
        .drop("__total")
        .orderBy(F.desc("n_rows"), F.asc("__k"))
        .limit(top_k)
        .withColumnRenamed("__k", "k")
    )


def streaming_pair_deltas(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    state_dir: str,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> None:
    """Streaming near-dup PAIR log for incremental cluster maintenance
    (the q236 surface): each micro-batch writes its distinct pair
    delta to its own ``batch=<id>`` partition (overwrite on redelivery
    -> replace, never duplicate -- harmless for CC either way, but the
    house contract is replace).  Pairs are the canonical streaming
    input for `extend_components`: state per batch is bounded by the
    batch's pair count, not the corpus."""

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        delta = (
            df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
            .select(F.col(a_col).alias("id_a"), F.col(b_col).alias("id_b"))
            .distinct()
        )
        delta.write.mode("overwrite").parquet(
            os.path.join(state_dir, "pairdelta", f"batch={batch_id}")
        )

    incremental_files(spark, source_dir, checkpoint_dir, schema, batch_fn)


def streaming_dup_clusters(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge-on-read cluster extraction: fold the batch pair partitions
    through `extend_components` itself -- labels after batch i extend
    with batch i+1's delta, so the extractor IS the q236 batch
    operator and equals the monolithic `connected_components` over all
    pairs by the star-contraction identity (graded by q236's own
    oracle discipline; asserted in the streaming test).  A production
    deployment compacts by replacing a prefix of batch partitions with
    the star edges of their fold (same operator, same identity)."""
    from ..operators.dedup import connected_components, extend_components

    root = os.path.join(state_dir, "pairdelta")
    all_parts = spark.read.parquet(root)
    batch_ids = sorted(
        r["batch"] for r in all_parts.select("batch").distinct().collect()
    )
    labels = None
    for b in batch_ids:
        part = all_parts.filter(F.col("batch") == b).select("id_a", "id_b")
        labels = (
            connected_components(part)
            if labels is None
            else extend_components(labels, part)
        )
    return labels


def streaming_token_counts(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    state_dir: str,
    text_col: str = "text",
    group_cols: list[str] | None = None,
) -> None:
    """Streaming (group, token) count partials for the q247 lexical-
    diversity monitor: each micro-batch tokenizes ITS documents
    (gini_simpson_diversity's exact tokenizer -- lower/trim/\\s+,
    empties dropped) and writes per-(group, token) counts to its own
    ``batch=<id>`` partition (overwrite on redelivery -> replace,
    never double-count; the house count_min/key_counts shape).
    (T, sum c^2) is a sum-monoid over these partials, so the merged
    state reproduces the batch metric exactly at any batch split."""
    group_cols = list(group_cols or ["source"])

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        toks = df.select(
            *group_cols,
            F.explode(
                F.filter(
                    F.split(F.trim(F.col(text_col)), r"\s+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("__w"),
        )
        counts = toks.groupBy(*group_cols, "__w").agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        counts.write.mode("overwrite").parquet(
            os.path.join(state_dir, "tokencounts", f"batch={batch_id}")
        )

    incremental_files(spark, source_dir, checkpoint_dir, schema, batch_fn)


def streaming_diversity(
    spark: SparkSession,
    state_dir: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Merge-on-read lexical diversity over the streaming token-count
    state: sum the per-batch (group, token) partials, then the
    extractor IS `diversity_from_counts` verbatim -- identical
    arithmetic to batch gini_simpson_diversity on the union of all
    input, by construction (collapsed-mode feeds show up as a
    diversity DROP between state snapshots)."""
    from ..operators.text import diversity_from_counts

    group_cols = list(group_cols or ["source"])
    merged = (
        spark.read.parquet(os.path.join(state_dir, "tokencounts"))
        .groupBy(*group_cols, "__w")
        .agg(F.sum("__c").cast("long").alias("__c"))
    )
    return diversity_from_counts(merged, group_cols=tuple(group_cols))


def streaming_holt_forecast(
    spark: SparkSession,
    state_dir: str,
    key_cols: list[str],
    day_col: str,
    cents_col: str,
    horizon: int = 7,
) -> DataFrame:
    """Streaming forecast monitor: merge the q226-style sum-delta state
    (per-(key, day) cents partials -- a sum monoid, so late/split
    batches land exactly), then the extractor IS holt_linear_by_key on
    the merged daily series, reporting each key's last level/trend and
    the `horizon`-day extrapolation.  streaming==batch by construction:
    the same recursion over the same merged rollup (the values enter
    the recursion as cents/100 doubles, bit-identical on every engine
    because the INTEGER cents merged first).

    The capacity alarm that stays cheap under streaming: state is
    O(keys x days) summary rows, never raw events; the recursion runs
    per key at read time.
    """
    from pyspark.sql.window import Window

    from ..operators.temporal import holt_linear_by_key

    merged = streaming_sum_delta_state(
        spark, state_dir, key_cols + [day_col], [cents_col]
    )
    daily = merged.select(
        *key_cols,
        day_col,
        (F.col(cents_col) / 100).alias("__v"),
    ).filter(F.col("__v").isNotNull())
    if len(key_cols) != 1:
        raise ValueError(
            "streaming_holt_forecast: exactly one key column "
            "(holt_linear_by_key contract)"
        )
    sm = holt_linear_by_key(daily, key_cols[0], day_col, "__v")
    w = Window.partitionBy(*key_cols).orderBy(F.desc(day_col))
    return (
        sm.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            *key_cols,
            F.col(day_col).alias("last_day"),
            "level",
            "trend",
            (F.col("level") + horizon * F.col("trend")).alias("forecast"),
        )
    )


def streaming_budget_caps(
    spark: SparkSession,
    state_dir: str,
    group_cols: list[str] | None = None,
    budget_num: int = 2,
    budget_den: int = 5,
) -> DataFrame:
    """Merge-on-read water-filling budget plan over the streaming
    token-count state (the q247 monitor's ``batch=<id>`` (group, token)
    partials): per-group masses are sums over the merged counts, then
    the extractor IS `water_filling_caps` verbatim -- the mixture plan
    (q251) recomputed from live state as feeds grow, identical
    arithmetic to the batch operator on the union of all input by
    construction.  A feed whose cap keeps shrinking between snapshots
    is outgrowing the budget -- the planning alarm."""
    from ..operators.sampling import water_filling_caps

    group_cols = list(group_cols or ["source"])
    merged = (
        spark.read.parquet(os.path.join(state_dir, "tokencounts"))
        .groupBy(*group_cols)
        .agg(F.sum("__c").cast("long").alias("__mass"))
    )
    if len(group_cols) != 1:
        raise ValueError(
            "streaming_budget_caps: exactly one group column "
            "(water_filling_caps key contract)"
        )
    return water_filling_caps(
        merged, group_cols[0], "__mass", budget_num, budget_den
    )


def streaming_daily_counts(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    state_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
) -> None:
    """Streaming per-(key, day) event-count partials for the
    burstiness monitor: each micro-batch counts ITS rows at the
    (key..., day) grain and writes its own ``batch=<id>`` partition
    (overwrite on redelivery -> replace, never double-count; the
    house sum-delta shape).  Counts are a sum monoid, so the merged
    state reproduces the batch daily rollup exactly at any batch
    split or late-arrival order.  NULL-ts rows are dropped (no day to
    attribute -- the q286 batch domain)."""

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        counts = (
            df.filter(F.col(ts_col).isNotNull())
            .groupBy(
                *[F.col(k) for k in key_cols],
                F.date_trunc("day", F.col(ts_col)).cast("date").alias(
                    "__day"
                ),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("__x"))
        )
        counts.write.mode("overwrite").parquet(
            os.path.join(state_dir, "dailycounts", f"batch={batch_id}")
        )

    incremental_files(spark, source_dir, checkpoint_dir, schema, batch_fn)


def streaming_vmr(
    spark: SparkSession,
    state_dir: str,
    key_cols: list[str],
) -> DataFrame:
    """Merge-on-read burstiness (variance-to-mean) monitor over the
    streaming daily-count state: sum the per-batch (key, day) count
    partials, then the extractor IS `burstiness_vmr_e6` verbatim --
    identical BIGINT moments and the identical e6 ladder as the q286
    batch query on the union of all input, by construction.  A key
    whose VMR jumps between state snapshots is developing burst
    arrival (campaign, incident, retry storm) -- the dispersion alarm
    CUSUM's level detector cannot raise.  State is O(keys x days)
    summary rows, never raw events."""
    from ..operators.analytics import burstiness_vmr_e6

    merged = (
        spark.read.parquet(os.path.join(state_dir, "dailycounts"))
        .groupBy(*key_cols, "__day")
        .agg(F.sum("__x").cast("long").alias("__x"))
    )
    return burstiness_vmr_e6(merged, key_cols, "__x")


def streaming_interval_deltas(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    state_dir: str,
    start_col: str,
    end_col: str,
) -> None:
    """Streaming per-day open/close delta partials for the backlog
    monitor: each micro-batch runs `interval_deltas` over ITS interval
    rows (closed [start, end] dates; +1 opened at start, +1 closed at
    end + 1) and writes its own ``batch=<id>`` partition (overwrite on
    redelivery -> replace, never double-count).  (opened, closed) are
    sum monoids per day, so the merged state reproduces the batch
    delta table exactly at any batch split.  Rows with NULL or
    reversed bounds are dropped (the q296 declared domain)."""
    from ..operators.intervals import interval_deltas

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        iv = df.filter(
            F.col(start_col).isNotNull()
            & F.col(end_col).isNotNull()
            & (F.col(end_col) >= F.col(start_col))
        )
        interval_deltas(iv, start_col, end_col).write.mode(
            "overwrite"
        ).parquet(os.path.join(state_dir, "intervaldeltas",
                               f"batch={batch_id}"))

    incremental_files(spark, source_dir, checkpoint_dir, schema, batch_fn)


def streaming_backlog(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge-on-read backlog series over the streaming interval-delta
    state: sum the per-batch (day, opened, closed) partials, then the
    extractor IS `backlog_from_deltas` verbatim -- identical windows to
    the q296 batch query on the union of all input, by construction.
    The capacity chart that stays cheap under streaming: state is
    O(distinct days) summary rows, never raw intervals."""
    from ..operators.intervals import backlog_from_deltas

    merged = (
        spark.read.parquet(os.path.join(state_dir, "intervaldeltas"))
        .groupBy("day")
        .agg(
            F.sum("opened").cast("long").alias("opened"),
            F.sum("closed").cast("long").alias("closed"),
        )
    )
    return backlog_from_deltas(merged)


def streaming_freshness(
    spark: SparkSession,
    state_dir: str,
    key_cols: list[str],
) -> DataFrame:
    """Merge-on-read freshness monitor over the streaming daily-count
    state (`streaming_daily_counts` partials): per key, the last
    observed day and its staleness versus the newest day anywhere in
    the state -- the "is this feed still arriving" alarm, the
    streaming counterpart of q299's historical freshness share.
    max() is a monoid, so redelivered/split batches land exactly.
    State is O(keys x days) summary rows, never raw events."""
    merged = (
        spark.read.parquet(os.path.join(state_dir, "dailycounts"))
        .groupBy(*key_cols, "__day")
        .agg(F.sum("__x").cast("long").alias("__x"))
    )
    ref = merged.agg(F.max("__day").alias("__ref"))
    per_key = merged.groupBy(*key_cols).agg(
        F.max("__day").alias("last_day"),
        F.sum("__x").cast("long").alias("n_events"),
    )
    return per_key.crossJoin(F.broadcast(ref)).select(
        *key_cols,
        "last_day",
        "n_events",
        F.datediff(F.col("__ref"), F.col("last_day"))
        .cast("long")
        .alias("staleness_days"),
    )


def streaming_lead_lag(
    spark: SparkSession,
    state_dir: str,
    key_col: str,
    x_key: str,
    y_key: str,
    lags: list[int] | None = None,
) -> DataFrame:
    """Merge-on-read lead/lag monitor over the streaming daily-count
    state: sum the per-batch (key, day) count partials, split out the
    two series named by ``x_key``/``y_key``, then the extractor IS
    `cross_correlation_e6` verbatim -- identical BIGINT moments and
    double finisher as the q292 batch query on the union of all
    input, by construction.  The relationship detector that stays
    cheap under streaming: a best-lag shift between state snapshots
    means the lead time between the two streams is MOVING.  State is
    O(keys x days) summary rows, never raw events."""
    from ..operators.analytics import cross_correlation_e6

    merged = (
        spark.read.parquet(os.path.join(state_dir, "dailycounts"))
        .groupBy(key_col, "__day")
        .agg(F.sum("__x").cast("long").alias("__x"))
    )
    x = merged.filter(F.col(key_col) == x_key).select(
        F.col("__day").alias("day"), F.col("__x").alias("x")
    )
    y = merged.filter(F.col(key_col) == y_key).select(
        F.col("__day").alias("day"), F.col("__x").alias("y")
    )
    return cross_correlation_e6(x, y, lags or [-3, -2, -1, 0, 1, 2, 3])


def streaming_lateness(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    state_dir: str,
    id_col: str = "event_id",
    ts_col: str = "ts",
) -> None:
    """Streaming out-of-orderness partials (the q316 watermark-sizing
    audit as a monitor): each micro-batch computes per-event lateness
    versus the maximum timestamp ALREADY SEEN -- the exclusive running
    max within the batch (distributed_cummax_exclusive, arrival order
    = id within a batch, batch order across batches) merged with the
    max-so-far STATE from strictly earlier batches -- then writes its
    lateness-minute histogram partial and its own batch maximum, each
    to a ``batch=<id>`` partition (overwrite on redelivery -> replace;
    the prior max reads only batches < this id, so a redelivered batch
    recomputes identically).  Histogram counts are a sum monoid;
    max-so-far is a max monoid -- the merged state reproduces the
    batch q316 readout exactly WHEN batches split the id order (the
    streaming==batch test shape; on a real stream, batch order IS
    arrival order, which is precisely what a watermark sees).
    NULL ts/id rows are dropped (the q316 batch domain)."""
    from ..operators.ranking import distributed_cummax_exclusive

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        ev = df.filter(
            F.col(ts_col).isNotNull() & F.col(id_col).isNotNull()
        ).select(
            F.col(id_col).alias("__id"),
            F.unix_micros(F.col(ts_col)).alias("__us"),
        )
        prior = None
        maxdir = os.path.join(state_dir, "lateness_maxus")
        try:
            prior = (
                spark.read.parquet(maxdir)
                .filter(F.col("batch") < F.lit(int(batch_id)))
                .agg(F.max("max_us"))
                .collect()[0][0]
            )
        except Exception:
            prior = None  # no earlier state -- first batch
        pm = distributed_cummax_exclusive(
            ev, [("__id", "asc")], "__us", out_col="__pm"
        )
        hist = (
            pm.withColumn(
                "__eff",
                F.greatest(F.col("__pm"), F.lit(prior).cast("long")),
            )
            .select(
                F.when(
                    F.col("__eff").isNull()
                    | (F.col("__eff") <= F.col("__us")),
                    F.lit(0),
                )
                # integer div, the exact q316 batch lane (a double
                # division would round the microsecond difference)
                .otherwise(F.expr("(__eff - __us) div 60000000"))
                .cast("long")
                .alias("late_min")
            )
            .groupBy("late_min")
            .agg(F.count(F.lit(1)).cast("long").alias("w"))
        )
        hist.write.mode("overwrite").parquet(
            os.path.join(state_dir, "lateness_hist", f"batch={batch_id}")
        )
        ev.agg(F.max("__us").alias("max_us")).write.mode(
            "overwrite"
        ).parquet(os.path.join(maxdir, f"batch={batch_id}"))

    incremental_files(spark, source_dir, checkpoint_dir, schema, batch_fn)


def streaming_lateness_summary(
    spark: SparkSession,
    state_dir: str,
    probs_permille: list[int] | None = None,
    threshold_min: int = 60,
) -> DataFrame:
    """Merge-on-read out-of-orderness monitor: sum the per-batch
    lateness-histogram partials, then the extractor IS
    `lateness_summary` verbatim -- identical exact quantiles and
    exceedance permille as the q316 batch audit on the union of all
    input (when batches split arrival order), by construction.  The
    p99 lateness IS the watermark you should configure; a p99 that
    moves between state snapshots means your upstream's disorder is
    drifting and the watermark needs re-sizing.  State is O(distinct
    lateness-minutes) summary rows per batch, never raw events."""
    from ..operators.temporal import lateness_summary

    merged = (
        spark.read.parquet(os.path.join(state_dir, "lateness_hist"))
        .groupBy("late_min")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    return lateness_summary(
        merged,
        probs_permille=tuple(probs_permille or (500, 990)),
        threshold_min=threshold_min,
    )


def streaming_source_quality_counts(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    state_dir: str,
) -> None:
    """Streaming twin of q319's per-source quality deciles: maintain
    (source, qint, n) counts over a document file stream.  qint =
    floor(quality_score * 1e6) is BOUNDED in [0, 1e6], so the state
    grain is O(min(docs, 1e6) x sources) summary rows per batch, never
    raw documents -- a sum-monoid with the same ``batch=<id>``
    overwrite idempotency as streaming_count_min (a redelivered batch
    REPLACES its partition instead of double-counting).

    Batch finisher: `streaming_quality_decile_boundaries` -- because
    counts over a bounded value domain determine every order statistic
    exactly, the stream maintains EXACT per-source decile boundaries
    (ntile tile-end ranks, matching q319 for any N), not a sketch.
    """
    from ..operators.text import quality_score

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        counts = (
            df.filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
            .select(
                "source",
                F.floor(quality_score(F.col("text")) * 1000000)
                .cast("long")
                .alias("qint"),
            )
            .groupBy("source", "qint")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        counts.write.mode("overwrite").parquet(
            os.path.join(state_dir, "srcq", f"batch={batch_id}")
        )

    incremental_files(spark, source_dir, checkpoint_dir, schema, batch_fn)


def streaming_source_quality_state(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Merged (source, qint, n) counts: sum of every batch partition."""
    return (
        spark.read.parquet(os.path.join(state_dir, "srcq"))
        .groupBy("source", "qint")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def quality_decile_boundaries(
    counts: DataFrame, n_tiles: int = 10
) -> DataFrame:
    """(source, tile, boundary_qint) from (source, qint, n) counts:
    boundary_qint = the exact qint at the NTILE tile-end rank
    ``tile * (N div k) + least(tile, N % k)`` within the source --
    ntile(k) gives the first (N % k) tiles ceil(N/k) rows and the
    rest floor(N/k), so this is exactly max_qint of q319's tile
    (ties in qint cannot shift the VALUE at a rank, so the boundary
    is tie-order independent even though ntile's row assignment is
    not).  The earlier ceil-div rank ceil(tile*N/k) (q253's rule)
    agrees only when k | N; this form makes the q319 twin exact for
    remainder counts too.  When N < k, tiles t > N repeat the max
    (q319 leaves them empty -- consumers read tiles 1..min(k, N)).
    Shared by the batch path and the streaming finisher so
    streaming == batch by construction; the cum window is partitioned
    by source over the O(distinct qint) summary, never raw docs."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("source")
        .orderBy("qint")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = counts.groupBy("source").agg(
        F.sum("n").cast("long").alias("__N")
    )
    cum = counts.withColumn("cum", F.sum("n").over(w)).join(tot, "source")
    tiles = cum.select(
        "source",
        "qint",
        "cum",
        "__N",
        F.explode(
            F.expr(f"sequence(1, {int(n_tiles)})")
        ).alias("tile"),
    )
    hit = tiles.filter(
        F.col("cum")
        >= F.expr(
            f"tile * (__N div {int(n_tiles)})"
            f" + least(CAST(tile AS BIGINT), __N % {int(n_tiles)})"
        )
    )
    return (
        hit.groupBy("source", "tile")
        .agg(F.min("qint").cast("long").alias("boundary_qint"))
        .select("source", F.col("tile").cast("long").alias("tile"), "boundary_qint")
    )


def streaming_quality_decile_boundaries(
    spark: SparkSession, state_dir: str, n_tiles: int = 10
) -> DataFrame:
    """Exact per-source decile boundaries over the merged stream state
    -- identical arithmetic to the batch extractor by construction
    (it IS `quality_decile_boundaries`)."""
    return quality_decile_boundaries(
        streaming_source_quality_state(spark, state_dir), n_tiles=n_tiles
    )


def streaming_survivor_clusters(
    spark: SparkSession,
    state_dir: str,
    attrs: DataFrame,
    policies: dict,
    id_col: str = "id",
) -> DataFrame:
    """Keep-policy-aware streaming dedup (q320's stream twin): fold the
    ``streaming_pair_deltas`` batch partitions keeping only (labels,
    survivor table) state -- each fold extends the labeling
    (star-contraction identity) and re-picks survivors from
    {standing survivors UNION this delta's endpoints} only (the
    incremental_survivor_candidates dominance argument), so no
    historical member's attributes are ever re-read and the final
    table equals `pick_survivors` over the monolithic CC of all pairs
    (asserted in the streaming test).

    ``attrs`` maps id -> the policy columns (e.g. qint/nch); in
    production it is the attribute TABLE the policies need, which the
    candidate join probes by id -- O(candidates) lookups per fold.
    """
    from ..operators.dedup import (
        connected_components,
        extend_components,
        incremental_survivor_candidates,
        pick_survivors,
    )

    root = os.path.join(state_dir, "pairdelta")
    all_parts = spark.read.parquet(root)
    batch_ids = sorted(
        r["batch"] for r in all_parts.select("batch").distinct().collect()
    )
    labels = None
    surv = None
    for b in batch_ids:
        delta = all_parts.filter(F.col("batch") == b).select(
            "id_a", "id_b"
        )
        if labels is None:
            labels = connected_components(delta)
            members = labels.join(
                attrs.withColumnRenamed(id_col, "id"), "id"
            )
            surv = pick_survivors(members, policies)
        else:
            labels = extend_components(labels, delta)
            surv_ids = None
            for name in policies:
                col = surv.select(F.col(name).alias("id"))
                surv_ids = (
                    col if surv_ids is None else surv_ids.unionByName(col)
                )
            cands = incremental_survivor_candidates(
                labels, surv_ids, delta
            )
            members = cands.join(
                attrs.withColumnRenamed(id_col, "id"), "id"
            )
            surv = pick_survivors(members, policies)
    return surv


# ---------------------------------------------------------------------------
# Streaming twin of the corpus-release flagship (plans/release.py, q332):
# fold document batches keeping only NARROW state -- per-doc metadata,
# the minhash signature index, and the pair log -- then extract the
# identical release manifest without ever re-reading a document body.
# ---------------------------------------------------------------------------


def streaming_release_ingest(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    benchmark: DataFrame | None = None,
    min_quality: float = 0.2,
    near_dup_threshold: float = 0.7,
    near_dup_hashes: int = 16,
    near_dup_bands: int = 8,
    contamination_ngram: int = 5,
) -> None:
    """Ingest half of the release twin: per micro-batch, write three
    ``batch=<id>`` overwrite-idempotent state partitions --

    - ``meta``: per quality-passing doc, the NARROW columns every later
      stage needs (source, lang, cleaned length, token count, content
      digest, and -- when ``benchmark`` is given -- the doc's distinct
      n-gram count and benchmark-hit count). Document BODIES are never
      stored: gates, exact dedup, keep policies, contamination, budgets,
      split and shards are all functions of this metadata.
    - ``sig``: the md5-lane minhash signature index of the batch
      (build_minhash_index), so later batches pair against stored
      signatures -- history is never re-shingled.
    - ``pairs``: the batch's near-dup pair delta = intra-batch pairs +
      batch-vs-index pairs (own batch excluded from the index view, so
      a REDELIVERED batch cannot pair against its previous attempt).

    Contamination stats are computed at ingest against a FIXED benchmark
    (the n-gram hit counts are row-local given the benchmark's gram set,
    which is eval-sized and broadcast); swapping benchmarks later needs
    a gram-index state instead -- documented trade, not a silent gap.

    Per-batch work is O(batch) + O(batch-vs-index candidates); state is
    O(corpus metadata + signatures + pairs), never corpus text. The
    quality gate (row-local) filters BEFORE any state is written; the
    LENGTH gate does not -- its per-lang p95 moves with the cumulative
    corpus, so membership is decided at extraction time from the stored
    lengths (and the pair log is filtered to current members there:
    LSH candidacy + Jaccard verify are pairwise-pure, so pairs computed
    among a superset restrict exactly)."""
    from ..operators.dedup import (
        build_minhash_index,
        incremental_near_dup_pairs,
        minhash_near_dup_pairs,
    )
    from ..operators.text import clean_text, lang_id, quality_score
    from ..plans.release import _distinct_gram_hashes, _n_tokens

    bench_grams = None
    if benchmark is not None:
        from ..caching import transient_persist

        bench_grams = (
            _distinct_gram_hashes(
                benchmark.select(
                    F.col(id_col),
                    clean_text(F.col(text_col)).alias(text_col),
                ),
                id_col,
                text_col,
                contamination_ngram,
            )
            .select("gh")
            .distinct()
            .withColumn("__hit", F.lit(1))
            .transform(transient_persist)
        )

    def batch_fn(df: DataFrame, batch_id: int) -> None:
        base = (
            df.withColumn(text_col, clean_text(F.col(text_col)))
            .withColumn("__lang", lang_id(F.col(text_col)))
            .withColumn("__q", quality_score(F.col(text_col)))
            .withColumn("__nt", _n_tokens(F.col(text_col)))
            .persist()
        )
        qual_ok = F.col("__q") >= min_quality
        base.agg(
            F.count(F.lit(1)).alias("n_input"),
            F.coalesce(F.sum("__nt"), F.lit(0)).alias("t_input"),
            F.sum(qual_ok.cast("long")).alias("n_quality"),
            F.coalesce(F.sum(F.when(qual_ok, F.col("__nt"))), F.lit(0)).alias(
                "t_quality"
            ),
        ).write.mode("overwrite").parquet(
            os.path.join(state_dir, "gates", f"batch={batch_id}")
        )
        passed = base.filter(qual_ok).persist()
        meta = passed.select(
            F.col(id_col),
            F.col(source_col),
            F.col("__lang").alias("lang"),
            F.length(text_col).alias("length"),
            F.col("__nt").alias("nt"),
            F.md5(F.col(text_col).cast("binary")).alias("digest"),
        )
        if bench_grams is not None:
            perdoc = (
                _distinct_gram_hashes(passed, id_col, text_col, contamination_ngram)
                .join(F.broadcast(bench_grams), "gh", "left")
                .groupBy(id_col)
                .agg(
                    F.count(F.lit(1)).alias("n_grams"),
                    F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hits"),
                )
            )
            meta = meta.join(perdoc, id_col, "left")
        else:
            meta = meta.withColumn(
                "n_grams", F.lit(None).cast("long")
            ).withColumn("n_hits", F.lit(None).cast("long"))
        meta.write.mode("overwrite").parquet(
            os.path.join(state_dir, "meta", f"batch={batch_id}")
        )
        sigs = build_minhash_index(
            passed, id_col, text_col, num_hashes=near_dup_hashes
        ).persist()
        sigs.write.mode("overwrite").parquet(
            os.path.join(state_dir, "sig", f"batch={batch_id}")
        )
        intra = minhash_near_dup_pairs(
            passed,
            id_col,
            text_col,
            threshold=near_dup_threshold,
            num_hashes=near_dup_hashes,
            bands=near_dup_bands,
        ).select("id_a", "id_b")
        pairs = intra
        sig_dir = os.path.join(state_dir, "sig")
        if _storage_path_exists(spark, sig_dir):
            index_sigs = spark.read.parquet(sig_dir)
            if "batch" in index_sigs.columns:
                index_sigs = index_sigs.filter(
                    F.col("batch") != batch_id
                ).drop("batch")
            cross = incremental_near_dup_pairs(
                passed,
                index_sigs,
                id_col,
                text_col,
                threshold=near_dup_threshold,
                num_hashes=near_dup_hashes,
                bands=near_dup_bands,
            ).select(
                F.least("new_id", "index_id").alias("id_a"),
                F.greatest("new_id", "index_id").alias("id_b"),
            )
            pairs = pairs.unionByName(cross)
        pairs.distinct().write.mode("overwrite").parquet(
            os.path.join(state_dir, "pairs", f"batch={batch_id}")
        )
        passed.unpersist()
        base.unpersist()
        sigs.unpersist()

    incremental_files(spark, source_dir, checkpoint_dir, schema, batch_fn)


def streaming_release_manifest(
    spark: SparkSession,
    state_dir: str,
    embeddings: DataFrame | None = None,
    id_col: str = "doc_id",
    source_col: str = "source",
    contamination: bool = False,
    length_quantile: float = 0.95,
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    semantic_threshold: float = 0.35,
    total_token_budget: int | None = None,
    alpha: float = 0.5,
    holdout_rate: float = 0.05,
    n_shards: int = 4,
    cc_memo=None,
    cc_key_prefix: str = "",
) -> DataFrame:
    """Extract the release manifest from the folded stream state --
    identical rows to ``release_corpus(union of all batches).manifest``
    (asserted in the streaming test), computed WITHOUT document bodies:

    - gates: sum-monoid over the per-batch gate summaries;
    - length gate: per-lang exact p95 over the stored lengths (the gate
      is cumulative, so it is decided here, not at ingest);
    - exact dedup: keep-min per stored digest;
    - near dedup: the pair log filtered to current members (pairwise-
      pure predicate -> restriction is exact), star CC, keep policy
      over stored lengths;
    - semantic dedup / contamination / budgets / split / shards: the
      same arithmetic as plans/release.py over metadata columns.

    ``cc_memo`` forwards to plans.release._survivors (same contract as
    release_corpus): ONLY sound when the state dir is frozen between
    extractions under the memo key -- the caller owns that guarantee
    (state dirs are otherwise mutable; ``cc_key_prefix`` should encode
    the state identity, e.g. path + batch count).
    """
    from pyspark.sql.window import Window

    from ..operators.dedup import semantic_dedup_pairs
    from ..operators.sampling import hash_bucket, mixture_weights
    from ..plans.release import _BUCKETS, _survivors

    g = (
        spark.read.parquet(os.path.join(state_dir, "gates"))
        .agg(
            F.sum("n_input").alias("n0"),
            F.sum("t_input").alias("t0"),
            F.sum("n_quality").alias("n2"),
            F.sum("t_quality").alias("t2"),
        )
        .first()
    )
    funnel: dict[str, tuple[int, int]] = {
        "input": (int(g["n0"]), int(g["t0"])),
        "lang_gate": (int(g["n0"]), int(g["t0"])),
        "quality_gate": (int(g["n2"]), int(g["t2"])),
    }
    # every persist below is UNPERSISTED before returning: the state
    # directories are mutable (the next ingest run appends partitions),
    # and a cached scan of them would serve stale rows to the next
    # extraction (measured: a second extract after new batches read the
    # first extract's 9-row cache). The manifest itself is built from
    # driver-side rows, so nothing downstream needs these caches.
    pinned: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        df = df.persist()
        pinned.append(df)
        return df

    meta = pin(
        spark.read.parquet(os.path.join(state_dir, "meta")).drop("batch")
    )

    def record(name: str, df: DataFrame) -> DataFrame:
        df = pin(df)
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("nt"), F.lit(0)).alias("t"),
        ).first()
        funnel[name] = (int(r["n"]), int(r["t"]))
        return df

    cut = meta.groupBy(F.col("lang").alias("__cut_lang")).agg(
        F.percentile(F.col("length"), F.lit(length_quantile)).alias("__cut")
    )
    gated = record(
        "length_gate",
        meta.join(
            F.broadcast(cut), F.col("lang").eqNullSafe(F.col("__cut_lang"))
        )
        .filter(F.col("length") <= F.col("__cut"))
        .drop("__cut_lang", "__cut", "lang"),
    )
    keepers = gated.groupBy("digest").agg(F.min(id_col).alias(id_col))
    exact = record(
        "exact_dedup",
        gated.join(keepers, ["digest", id_col], "left_semi").drop("digest"),
    ).withColumn("__grp", F.col(id_col))

    member_ids = exact.select(F.col(id_col))
    pairs = (
        spark.read.parquet(os.path.join(state_dir, "pairs"))
        .drop("batch")
        .join(member_ids.withColumnRenamed(id_col, "id_a"), "id_a", "left_semi")
        .join(member_ids.withColumnRenamed(id_col, "id_b"), "id_b", "left_semi")
        .distinct()
    )
    cur = record(
        "near_dedup",
        _survivors(exact, pairs, id_col, "", "__grp", length_col="length",
                   cc_memo=cc_memo, cc_key=f"{cc_key_prefix}near_cc",
                   persist_fn=pin),
    )

    if embeddings is not None:
        emb = cur.select(id_col).join(
            embeddings.select(
                F.col(emb_id_col).alias(id_col), vec_col, block_col
            ),
            id_col,
        )
        sem_pairs = semantic_dedup_pairs(
            emb,
            id_col=id_col,
            vec_col=vec_col,
            cluster_col=block_col,
            threshold=semantic_threshold,
            persist_fn=pin,
        ).select("id_a", "id_b")
        cur = record(
            "semantic_dedup",
            _survivors(cur, sem_pairs, id_col, "", "__grp",
                       length_col="length",
                       cc_memo=cc_memo, cc_key=f"{cc_key_prefix}sem_cc",
                       persist_fn=pin),
        )

    if contamination:
        cur = record(
            "contamination_gate",
            cur.filter(
                F.col("n_grams").isNull()
                | (2 * F.col("n_hits") < F.col("n_grams"))
            ),
        )

    if total_token_budget is not None:
        weights = mixture_weights(cur, source_col, alpha).withColumn(
            "__budget",
            F.ceil(
                F.col("sample_weight") * F.lit(float(total_token_budget))
            ).cast("long"),
        )
        from ..plans.release import _budget_cut

        cur = _budget_cut(cur, weights, source_col, id_col, "nt")

    threshold = int(holdout_rate * _BUCKETS)
    final = pin(
        cur.withColumn(
            "__side",
            F.when(hash_bucket(F.col("__grp")) < threshold, F.lit("holdout"))
            .otherwise(F.lit("train")),
        )
        .withColumn("__shard", hash_bucket(F.col(id_col), n_shards))
    )
    cells = final.groupBy("__side", "__shard").agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("nt"), F.lit(0)).alias("t"),
    ).collect()
    if total_token_budget is not None:
        funnel["budget_cut"] = (
            sum(int(c["n"]) for c in cells),
            sum(int(c["t"]) for c in cells),
        )
    for side in ("holdout", "train"):
        funnel[side] = (
            sum(int(c["n"]) for c in cells if c["__side"] == side),
            sum(int(c["t"]) for c in cells if c["__side"] == side),
        )
    shard_stats = sorted(
        (int(c["__shard"]), int(c["n"]), int(c["t"]))
        for c in cells
        if c["__side"] == "train"
    )
    rows = [(k, int(n), int(t)) for k, (n, t) in funnel.items()] + [
        (f"shard_{s}", n, t) for s, n, t in shard_stats
    ]
    for df in pinned:
        df.unpersist()
    return spark.createDataFrame(
        rows, "stage string, n_docs long, n_tokens long"
    )
