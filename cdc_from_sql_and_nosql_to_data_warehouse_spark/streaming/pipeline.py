"""Structured-Streaming restatement of the reference's NoSQL CDC path (EP2).

Reference topology (SURVEY.md §3 EP2):

  DynamoDB stream --(Lambda: filter INSERT/MODIFY, decode, NDJSON)--> S3
  S3 --(Lambda: list prefix, COPY to Redshift, move file)--> warehouse

Engine topology (one process, two streaming hops, checkpoints replace
both the event-source-mapping offsets and the processed/unprocessed
prefix dance — exactly-once per sink, strictly stronger than the
reference's at-least-once R4):

  readStream(stream records) -> guard/filter/decode -> NDJSON staging dir
  readStream(staging dir)    -> foreachBatch apply   -> warehouse parquet

The collapsed single-hop variant (``run_envelope_apply``) is the
Spark-idiomatic form: envelope feed -> foreachBatch apply_changes. The
two-hop form exists for observable parity with the reference's staging
contract (file naming T4/T5, empty-batch markers K4, FIXTURES.md F5).
"""

from __future__ import annotations

import functools
import json
import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsio
from ..config import EngineConfig
from ..functions.dynamodb_json import _unwrap_fields_sql  # typed tag-stripping
from ..operators.apply import (
    _guarded_op_sql,
    _reraise_bad_op,
    append_to_table,
    apply_changes,
    apply_changes_bucketed,
    current_max_seq,
)
from ..operators.layout import _load_sidecar, collect_file_stats
from ..operators.maintenance import (
    compact_history,
    compact_parquet,
    vacuum_tombstones_table,
)
from ..sources.change_feed import (
    _read_ndjson,
    read_dynamodb_stream,
    read_envelope_feed,
)
from .manager import start_query


def decode_stream_records(records: DataFrame, after_schema: T.StructType) -> DataFrame:
    """P2+P3+T1+T2 as one filter and one projection: raise on an
    unknown eventName, keep INSERT/MODIFY, keep only the NewImage,
    strip wire tags into typed columns, carry seq + event time.

    Both are Spark SQL text rendered in Python (``_guarded_op_sql``,
    ``_unwrap_fields_sql``): JVM side, streaming-safe, and analyzed once
    instead of assembled column by column over Py4J."""
    return records.where(
        f"({_guarded_op_sql('eventName')}) IN ('INSERT', 'MODIFY')"
    ).selectExpr(
        *_unwrap_fields_sql("`dynamodb`.`NewImage`", after_schema),
        # real DynamoDB sequence numbers run up to 40 digits — too wide
        # for long (silent null) and decimal(38,0). Zero-padding to the
        # wire-format max keeps them strings whose lexicographic order
        # equals numeric order, so max-seq latest-wins stays exact.
        "lpad(`dynamodb`.`SequenceNumber`, 40, '0') AS `_seq`",
        "`dynamodb`.`ApproximateCreationDateTime` AS `_ts_ms`",
    )


def _parity_filename(n_records: int) -> str:
    """K3/K4 naming: ``{utc_stamp}__{uuid4}__{n}__inserted_or_modified_records.json``
    (reference ``write_dynamodb_stream_to_s3_lambda/handler.py:43-58``).

    One deliberate deviation: the reference's S3 keys embed ``:`` in the
    ISO timestamp; Hadoop Path URIs reject colons, so we use ``-``."""
    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H-%M-%SZ")
    if n_records:
        return f"{stamp}__{uuid.uuid4()}__{n_records}__inserted_or_modified_records.json"
    return f"{stamp}__{uuid.uuid4()}__0__no_inserted_or_modified_records.txt"


def stage_batch(
    batch: DataFrame, epoch_id: int, staging_dir: str, after_schema: T.StructType
) -> None:
    """Hop 1's ``foreachBatch`` body: one micro-batch -> one K3 staging
    file named with its record count, or a 0-byte K4 marker when no
    record survives the INSERT/MODIFY filter.

    One Spark job: the op guard, decode and write are one pass, and the
    record count rides an ``Observation`` on that write. An unknown
    eventName fails the write (documented ValueError via
    ``_reraise_bad_op``) before anything reaches ``staging_dir``."""
    obs = Observation()
    decoded = decode_stream_records(batch, after_schema).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    tmp = f"{staging_dir}__tmp_{epoch_id}_{uuid.uuid4().hex[:8]}"
    try:
        # single staging object per micro-batch = reference parity
        decoded.coalesce(1).write.mode("overwrite").json(tmp)
    except Exception as exc:
        fsio.remove_tree(tmp)
        _reraise_bad_op(exc)
        raise
    n = obs.get["n"]
    dest = os.path.join(staging_dir, _parity_filename(n))
    if n:
        part = next(p for p in fsio.listdir(tmp) if p.startswith("part-"))
        # the K8 file-handoff commit: one single-file move (fsio seam)
        fsio.move(os.path.join(tmp, part), dest)
    else:
        fsio.atomic_write_text(dest, "")  # K4 marker
    fsio.remove_tree(tmp)


def run_stream_to_staging(
    spark: SparkSession,
    cfg: EngineConfig,
    feed_dir: str,
    staging_dir: str,
    checkpoint_dir: str,
    after_schema: T.StructType,
    parity_naming: bool = True,
):
    """Hop 1: raw stream records -> decoded NDJSON staging files.

    ``parity_naming=True`` reproduces the reference's one-file-per-batch
    contract (fine here: batches are bounded by maxFilesPerTrigger, and
    the reference itself is one-file-per-Lambda-invocation). At scale you
    set it False and the plain distributed JSON sink takes over.
    """
    records = read_dynamodb_stream(
        spark,
        feed_dir,
        after_schema,
        streaming=True,
        max_files_per_trigger=cfg.max_files_per_trigger,
    )
    fsio.makedirs(staging_dir)

    if not parity_naming:
        decoded = decode_stream_records(records, after_schema)
        return start_query(
            decoded.writeStream.format("json").option("path", staging_dir),
            checkpoint_dir,
        )

    return start_query(
        records.writeStream.foreachBatch(
            functools.partial(
                stage_batch, staging_dir=staging_dir, after_schema=after_schema
            )
        ),
        checkpoint_dir,
    )


def staging_line_schema(after_schema: T.StructType) -> T.StructType:
    return T.StructType(
        list(after_schema.fields)
        + [
            # zero-padded wire-format sequence (see decode_stream_records)
            T.StructField("_seq", T.StringType(), True),
            T.StructField("_ts_ms", T.LongType(), True),
        ]
    )


def run_staging_to_warehouse(
    spark: SparkSession,
    cfg: EngineConfig,
    staging_dir: str,
    warehouse_path: str,
    checkpoint_dir: str,
    after_schema: T.StructType,
    key: str | None = None,
):
    """Hop 2: staging NDJSON -> warehouse (K5/S7), mode per cfg.apply_mode.

    The streaming file source + checkpoint replaces the reference's
    unprocessed/processed prefix protocol (K8) — files are processed
    exactly once without ever being moved. The 0-byte ``.txt`` markers
    (K4) are naturally excluded by the ``*.json`` glob.
    """
    key = key or cfg.document_key
    lines = _read_ndjson(
        spark,
        staging_line_schema(after_schema),
        f"{staging_dir}/*.json",
        max_files_per_trigger=cfg.max_files_per_trigger,
    )

    def load_batch(batch: DataFrame, epoch_id: int) -> None:
        if cfg.apply_mode == "append":
            # reference bug-compat: straight COPY-append of each staged
            # row (pointer-resolved, fileset-manifest-maintained: the
            # shared append helper extends the table's commit log when
            # the current version dir carries one)
            append_to_table(
                batch.drop("_seq", "_ts_ms"),
                warehouse_path,
                cfg.partition_by,
            )
            return
        envelope = batch.select(
            F.lit("MODIFY").alias("op"),
            F.col(key).cast("string").alias("key"),
            F.struct(*[F.col(f.name) for f in after_schema.fields]).alias("after"),
            F.col("_ts_ms").alias("ts_ms"),
            F.col("_seq").alias("seq"),
        )
        apply_changes(
            spark,
            envelope,
            warehouse_path,
            key,
            mode="upsert",
            propagate_deletes=cfg.propagate_deletes,
            partition_by=cfg.partition_by,
        )

    return start_query(lines.writeStream.foreachBatch(load_batch), checkpoint_dir)


def run_envelope_apply(
    spark: SparkSession,
    cfg: EngineConfig,
    feed_dir: str,
    warehouse_path: str,
    checkpoint_dir: str,
    after_schema: T.StructType,
    key: str | None = None,
    compact_every_n_batches: int | None = None,
    compact_target_file_bytes: int = 128 * 1024 * 1024,
    optimize_zorder_by: list[str] | None = None,
    history_retain_seqs: int = 0,
):
    """Collapsed pipeline: envelope feed -> apply_changes per micro-batch.

    This is also the SQL-path (EP1) replication hop: DMS's
    full-load-and-cdc becomes an initial snapshot append plus this
    continuous apply (S5) — same envelope, same sink.

    ``compact_every_n_batches`` wires small-file maintenance into the
    hop: after every N micro-batches the warehouse table is compacted
    in place (``maintenance.compact_parquet``, hive layout preserved
    for partitioned tables). Without it, append-mode tables grow one
    file-generation per trigger — ~288/day at the reference's 5-minute
    cadence — until someone runs maintenance by hand. Compaction is
    keyed off the checkpointed epoch id, so the cadence survives
    restarts; it preserves data byte-for-byte, so a crash between
    apply and compact changes nothing on replay. Flat-table compaction
    commits through ``_swap_into``'s pointer flip, so a crash inside it
    leaves the previous version served and the replayed batch merges
    against it; partitioned compaction instead commits per-partition
    via dynamic overwrite — the same (non-table-atomic) semantics as
    the partitioned merge itself."""
    key = key or cfg.document_key
    feed = read_envelope_feed(
        spark,
        feed_dir,
        after_schema,
        streaming=True,
        max_files_per_trigger=cfg.max_files_per_trigger,
    )

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        apply_changes(
            spark,
            batch,
            warehouse_path,
            key,
            mode=cfg.apply_mode,
            propagate_deletes=cfg.propagate_deletes,
            partition_by=cfg.partition_by,
        )
        if cfg.apply_mode in ("append", "history"):
            # blind-append modes: a stats-opted table (sidecar present)
            # accretes per-batch stats incrementally — O(this batch's
            # new files), the lakehouse per-commit stats stamp. Upsert
            # rewrites files, so its stats refresh stays at the
            # compaction cadence instead.
            sidecar = _load_sidecar(warehouse_path)
            if sidecar is not None:
                collect_file_stats(
                    spark, warehouse_path, sidecar["columns"], incremental=True
                )
        if (
            compact_every_n_batches
            and (epoch_id + 1) % compact_every_n_batches == 0
        ):
            if cfg.apply_mode == "history":
                # history (merge-on-read) tables accumulate one version
                # row per change: the maintenance tick folds versions
                # below (current max seq - history_retain_seqs) to one
                # latest-wins row per key. The default lag of 0 is the
                # Delta-checkpoint-style "fold to the tip" choice; a
                # NON-zero lag is Delta's CDF-retention analogue — it
                # keeps a seq window of versions live so change-feed
                # consumers (follow_changes / sync_changes /
                # sync_aggregate) that are not exactly caught up at the
                # compaction instant still find their window instead of
                # permanently raising on the horizon rule.
                top = current_max_seq(spark, warehouse_path)
                fold_to = (
                    int(top) - int(history_retain_seqs)
                    if top is not None
                    else None
                )
                if fold_to is not None and fold_to > 0:
                    compact_history(
                        spark,
                        warehouse_path,
                        before_seq=fold_to,
                        partition_by=cfg.partition_by,
                    )
            # with optimize_zorder_by the tick is OPTIMIZE ZORDER BY:
            # the rewrite both compacts AND re-clusters on the Morton
            # key, refreshing the stats sidecar, so file skipping on
            # the z-dimensions stays tight as the table churns
            compact_parquet(
                spark,
                warehouse_path,
                target_file_bytes=compact_target_file_bytes,
                partition_by=cfg.partition_by,
                zorder_by=optimize_zorder_by,
            )

    return start_query(feed.writeStream.foreachBatch(apply_batch), checkpoint_dir)


def run_envelope_apply_bucketed(
    spark: SparkSession,
    cfg: EngineConfig,
    feed_dir: str,
    table_name: str,
    checkpoint_dir: str,
    after_schema: T.StructType,
    key: str | None = None,
    bucket_cols: list[str] | None = None,
    n_buckets: int = 32,
    vacuum_every_n_batches: int | None = None,
    vacuum_horizon_seq=None,
):
    """Streaming hop into the bucketed serving layout: envelope feed ->
    ``apply_changes_bucketed`` per micro-batch, so the continuously
    maintained warehouse table keeps the zero-Exchange join property
    (see operators/apply.py). Same checkpoint/replay posture as
    ``run_envelope_apply`` — the merge converges under replays. Each
    micro-batch is one fenced pointer commit of the table's files under
    its default catalog path, so a restarted query (in a new process,
    whose in-memory catalog has no entry for ``table_name``) resumes
    from its checkpoint on top of the committed table.

    Small-file compaction is unnecessary here by construction (every
    batch rewrites the table through one bucketed write, so
    files-per-bucket stays 1); the maintenance that DOES accumulate is
    delete tombstones under ``propagate_deletes``.
    ``vacuum_every_n_batches`` wires their GC into the hop: after every
    N micro-batches, tombstones older than ``vacuum_horizon_seq`` (an
    int, or a zero-arg callable evaluated at vacuum time — the caller
    owns the replay-horizon invariant, exactly as with
    ``maintenance.vacuum_tombstones``) are dropped through the
    bucketed-layout-preserving rewrite."""
    key = key or cfg.document_key
    bucket_cols = bucket_cols or [key]
    feed = read_envelope_feed(
        spark,
        feed_dir,
        after_schema,
        streaming=True,
        max_files_per_trigger=cfg.max_files_per_trigger,
    )

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        apply_changes_bucketed(
            spark,
            batch,
            table_name,
            key,
            bucket_cols,
            n_buckets=n_buckets,
            propagate_deletes=cfg.propagate_deletes,
        )
        if (
            vacuum_every_n_batches
            and vacuum_horizon_seq is not None
            and (epoch_id + 1) % vacuum_every_n_batches == 0
        ):
            horizon = (
                vacuum_horizon_seq()
                if callable(vacuum_horizon_seq)
                else vacuum_horizon_seq
            )
            vacuum_tombstones_table(
                spark, table_name, horizon, bucket_cols, n_buckets=n_buckets
            )

    return start_query(feed.writeStream.foreachBatch(apply_batch), checkpoint_dir)


def run_streaming_dedup(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    survivors_path: str,
    checkpoint_dir: str,
    doc_schema: T.StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    ngram: int = 1,
    num_hashes: int = 128,
    max_files_per_trigger: int = 16,
    rebuild_bigbuckets_every_n_batches: int | None = None,
):
    """Continuous corpus curation: NDJSON document files -> per-batch
    dedup -> survivors appended to both the kept corpus and the minhash
    index, so every later batch dedups against everything accepted so
    far.

    Per micro-batch: (a) within-batch fuzzy dedup keeps the min-id
    representative per near-dup cluster (``fuzzy_dedup_survivors``);
    (b) the representatives are probed against the persisted index
    (``incremental_near_dup_pairs``) and any doc near-duplicating an
    already-accepted one is dropped — arrival order wins, the standard
    policy for a growing training corpus. Survivors land in
    ``survivors_path`` and their banded/shingle projections are
    appended to the index, all under ``batch={epoch_id}`` directories:
    a replayed micro-batch (crash before the checkpoint commit)
    OVERWRITES its own epoch directories instead of appending
    duplicates, so the pipeline converges under at-least-once replay
    exactly like the CDC apply hops. The index is bootstrapped from the
    first batch (meta written atomically last, same contract as
    ``build_minhash_index``). Readers of ``survivors_path`` see an
    extra ``batch`` partition column (the epoch lineage) alongside the
    document columns.

    ``bigbuckets`` staleness is safe by construction — an oversized
    bucket that grew after build simply probes unsalted (g defaults to
    1), a skew/performance matter, not correctness;
    ``rebuild_bigbuckets_every_n_batches`` recomputes the salt plan
    from the full banded table on that cadence.

    At 100 TB: each batch pays one broadcast probe against the banded
    index scan; the accepted corpus is never re-tokenized, and index
    growth is one epoch directory of fixed-width rows per trigger —
    the same small-file profile as the staged CDC feeds. Compact the
    index directories with ``maintenance.compact_parquet`` only while
    the stream is STOPPED: the epoch directory is the unit of replay
    idempotence, so merging epochs out from under a live query would
    let a replayed micro-batch re-append rows the merge already holds.
    """
    from ..operators.dedup import (
        _minhash_geometry,
        _minhash_projections,
        fuzzy_dedup_survivors,
        incremental_near_dup_pairs,
        minhash_index_meta,
    )

    docs = _read_ndjson(
        spark,
        doc_schema,
        f"{source_dir}/*.json",
        max_files_per_trigger=max_files_per_trigger,
    )

    def dedup_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.limit(1).count() == 0:
            return
        meta = minhash_index_meta(index_path)
        kept = fuzzy_dedup_survivors(
            batch,
            id_col,
            text_col,
            threshold=threshold,
            ngram=ngram,
            num_hashes=meta["num_hashes"] if meta else num_hashes,
        )
        if meta is not None:
            # exclude_epoch: a replayed micro-batch must not probe
            # against its own crashed attempt's index rows — every doc
            # would self-match and the epoch would be emptied on replay
            dup_ids = incremental_near_dup_pairs(
                spark,
                index_path,
                kept,
                id_col,
                text_col,
                exclude_epoch=epoch_id,
            ).select(F.col("new_id").alias(id_col)).distinct()
            kept = kept.join(dup_ids, id_col, "left_anti")
            rows, bands, max_diff = (
                meta["rows"],
                meta["bands"],
                meta["max_diff"],
            )
            seed, nh, ng = meta["seed"], meta["num_hashes"], meta["ngram"]
        else:
            rows, bands, max_diff = _minhash_geometry(
                threshold, num_hashes, None
            )
            seed, nh, ng = 42, num_hashes, ngram
        # epoch-keyed, overwrite-on-replay writes: survivors first (the
        # user-visible output), then the index projections the NEXT
        # batch dedups against. kept is evaluated up to 3x; it is
        # batch-sized, so localCheckpoint pins it without a lineage
        # that re-probes the index per action.
        kept = kept.localCheckpoint(eager=True)
        kept.write.mode("overwrite").parquet(
            os.path.join(survivors_path, f"batch={epoch_id}")
        )
        shingled, _ = _minhash_projections(
            kept, id_col, text_col, ng, nh, seed, rows, bands
        )
        sh_dir = os.path.join(index_path, "shingles", f"batch={epoch_id}")
        shingled.write.mode("overwrite").parquet(sh_dir)
        # banding reads the written shingles back: one tokenize per batch
        _, banded = _minhash_projections(
            kept,
            id_col,
            text_col,
            ng,
            nh,
            seed,
            rows,
            bands,
            shingled=spark.read.parquet(sh_dir),
        )
        banded.write.mode("overwrite").parquet(
            os.path.join(index_path, "banded", f"batch={epoch_id}")
        )
        if meta is None:
            # first batch bootstraps the salt plan (usually empty) and
            # the meta, atomically last — a crash before this point
            # leaves no meta, and the replay re-bootstraps.
            bucket_cap = 8192
            spark.read.parquet(os.path.join(index_path, "banded")).groupBy(
                "band", "bucket"
            ).agg(F.count("*").alias("_m")).filter(
                F.col("_m") > bucket_cap
            ).select(
                "band",
                "bucket",
                F.greatest(F.lit(1), F.ceil(F.col("_m") / bucket_cap))
                .cast("int")
                .alias("_g"),
            ).write.mode("overwrite").parquet(
                os.path.join(index_path, "bigbuckets")
            )
            meta = {
                "id_col": id_col,
                "threshold": threshold,
                "ngram": ng,
                "num_hashes": nh,
                "bands": bands,
                "rows": rows,
                "max_diff": max_diff,
                "seed": seed,
                "bucket_cap": bucket_cap,
            }
            fsio.atomic_write_text(
                os.path.join(index_path, "meta.json"), json.dumps(meta)
            )
        elif (
            rebuild_bigbuckets_every_n_batches
            and (epoch_id + 1) % rebuild_bigbuckets_every_n_batches == 0
        ):
            cap = meta["bucket_cap"]
            plan = (
                spark.read.parquet(os.path.join(index_path, "banded"))
                .groupBy("band", "bucket")
                .agg(F.count("*").alias("_m"))
                .filter(F.col("_m") > cap)
                .select(
                    "band",
                    "bucket",
                    F.greatest(F.lit(1), F.ceil(F.col("_m") / cap))
                    .cast("int")
                    .alias("_g"),
                )
                .localCheckpoint(eager=True)  # read fully before overwrite
            )
            plan.write.mode("overwrite").parquet(
                os.path.join(index_path, "bigbuckets")
            )

    return start_query(docs.writeStream.foreachBatch(dedup_batch), checkpoint_dir)


def run_streaming_embedding_dedup(
    spark: SparkSession,
    source_dir: str,
    accepted_path: str,
    checkpoint_dir: str,
    vec_schema: T.StructType,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_files_per_trigger: int = 16,
):
    """Continuous SEMANTIC curation — the embedding twin of
    ``run_streaming_dedup``: NDJSON vector files -> per-batch cosine
    dedup -> survivors appended to the accepted corpus, which doubles
    as the probe target for every later batch (embeddings need no
    tokenize/index step, so one table serves both roles).

    Per micro-batch: (a) within-batch near-dup groups (cosine >=
    ``threshold``) keep their min-id representative — pairs from the
    batch-vs-itself probe, components from ``near_dup_clusters`` (the
    batch-sized graph takes its driver union-find path); (b) the
    representatives are probed against the accepted corpus with
    ``embedding_incremental_near_dups`` (broadcast batch, one GEMM per
    corpus partition, corpus never shuffles) and any vector
    near-duplicating an accepted one is dropped — arrival order wins.
    Survivors land under ``batch={epoch_id}`` directories with the same
    overwrite-on-replay idempotence contract as the text hop.

    Size ``max_files_per_trigger`` so a micro-batch stays under the
    probe's ``max_batch_vectors`` driver-collect guard (default 100k
    vectors) — an oversized batch raises and terminates the query
    rather than silently materializing a corpus on the driver.
    """
    from ..operators.dedup import near_dup_clusters
    from ..operators.similarity import embedding_incremental_near_dups

    vecs = _read_ndjson(
        spark,
        vec_schema,
        f"{source_dir}/*.json",
        max_files_per_trigger=max_files_per_trigger,
    )

    def dedup_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.limit(1).count() == 0:
            return
        pairs_within = (
            embedding_incremental_near_dups(
                batch, batch, id_col, vec_col, threshold
            )
            .filter(F.col("accepted_id") < F.col("new_id"))
            .select(
                F.col("accepted_id").alias("id_a"), F.col("new_id").alias("id_b")
            )
        )
        losers = (
            near_dup_clusters(pairs_within)
            .filter(F.col("doc_id") != F.col("cluster_id"))
            .select(F.col("doc_id").alias(id_col))
        )
        kept = batch.join(losers, id_col, "left_anti")
        # probe against everything accepted by PRIOR epochs (this
        # epoch's own directory may exist from a crashed attempt — it
        # is about to be overwritten and must not suppress its own
        # rows on replay)
        # probe against PRIOR epochs only, through Spark's filesystem
        # layer (works on object stores, unlike a driver-local glob)
        # with the epoch filter partition-pruned. The replaying epoch's
        # own directory may exist from a crashed attempt — it is about
        # to be overwritten and must not suppress its own rows.
        from pyspark.errors import AnalysisException

        try:
            accepted = spark.read.parquet(accepted_path).filter(
                F.col("batch") != epoch_id
            )
            has_prior = accepted.limit(1).count() > 0
        except AnalysisException:
            has_prior = False  # first epoch: nothing accepted yet
        if has_prior:
            dups = (
                embedding_incremental_near_dups(
                    accepted, kept, id_col, vec_col, threshold
                )
                .select(F.col("new_id").alias(id_col))
                .distinct()
            )
            kept = kept.join(dups, id_col, "left_anti")
        kept.write.mode("overwrite").parquet(
            os.path.join(accepted_path, f"batch={epoch_id}")
        )

    return start_query(vecs.writeStream.foreachBatch(dedup_batch), checkpoint_dir)
