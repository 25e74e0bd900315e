"""Incremental view maintenance (IVM) for aggregates over keyed CDC state.

The reference pipeline lands changes and lets the warehouse recompute
aggregates from scratch (SURVEY.md §2.6 — aggregation is delegated, no
incremental path exists there). At 100 TB a full re-aggregation per
micro-batch is the difference between seconds and hours, so this module
maintains distributive aggregates (count / sum, and anything derivable
from them like avg) directly from the change stream:

    new_agg = base_agg  (retract)  old contributions of touched keys
                        (apply)    latest surviving contributions

Only the TOUCHED keys' current rows are read from base state — in Spark
that is a semi join the optimizer turns into a broadcast probe when the
micro-batch is small, never a full re-scan of untouched groups' history;
the maintained aggregate itself is the other input. Group movement is
handled naturally: a key whose group attribute changes retracts from its
old group and applies to its new one. Deletes retract without applying.

Exactness requires exact addition — run value columns through the
DECIMAL policy (plans/registry.py), never float, or base + delta drifts
from a full recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def latest_per_key_multi(
    df: DataFrame, key: str, seq_cols: list[str]
) -> DataFrame:
    """Max-(seq tuple) row per key — deterministic latest-wins with a
    composite sequence (e.g. (ts, event_id))."""
    w = W.partitionBy(key).orderBy(*[F.desc(c) for c in seq_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def incremental_upsert_agg(
    base_state: DataFrame,
    base_agg: DataFrame,
    changes: DataFrame,
    key: str,
    group_col: str,
    value_col: str,
    seq_cols: list[str],
    op_col: str = "op",
    remove_op: str = "REMOVE",
) -> DataFrame:
    """Maintain ``groupBy(group_col).agg(count, sum(value_col))`` over
    latest-wins keyed state (REMOVE = tombstone) given one batch of
    envelope rows.

    ``base_state``: one surviving row per key (columns include
    ``group_col`` and ``value_col``). ``base_agg``: the maintained
    aggregate — columns (group_col, n_keys, total_value). ``changes``:
    envelope rows with ``op_col``, ``key``, ``seq_cols`` and the state
    columns. Returns the new (group_col, n_keys, total_value), groups
    with no surviving keys dropped — byte-equal to a full recompute
    because every addition is exact (counts are longs; run values
    through DECIMAL upstream).

    Reordered/replayed delivery: when ``base_state`` carries the
    ``seq_cols``, each touched key is arbitrated max-(seq) between the
    stored row and the batch's latest row (batch wins seq ties, which
    makes replays idempotent) — a late-arriving change whose sequence
    is older than the stored row cannot regress the key, matching the
    R4/R8 posture of ``apply_changes``. If ``base_state`` does NOT
    carry the seq columns, the caller must guarantee every batch row is
    strictly newer than the stored row for its key (the natural case
    when batches come from an ordered change feed past a cutoff).
    """
    latest = latest_per_key_multi(changes, key, seq_cols)
    # eqNullSafe: a NULL key is a legitimate latest-wins group; a plain
    # equality semi-join would silently skip its retract
    touched = latest.select(key).alias("_ivm_touched")
    old = base_state.alias("_ivm_state").join(
        touched,
        F.col(f"_ivm_state.{key}").eqNullSafe(
            F.col(f"_ivm_touched.{key}")
        ),
        "left_semi",
    )
    retract = old.groupBy(group_col).agg(
        (-F.count("*")).alias("_dn"),
        (-F.sum(value_col)).alias("_dv"),
    )
    if all(c in base_state.columns for c in seq_cols):
        sel = [F.col(key), F.col(group_col), F.col(value_col)] + [
            F.col(c) for c in seq_cols
        ]
        # stored rows re-enter the arbitration as keep-ops: when the
        # stored row wins, its contribution is re-applied and the
        # retract above nets to zero for that key
        contenders = old.select(
            *sel, F.lit("__KEEP__").alias("_op"), F.lit(0).alias("_src")
        ).unionByName(
            latest.select(*sel, F.col(op_col).alias("_op"), F.lit(1).alias("_src"))
        )
        winners = latest_per_key_multi(contenders, key, [*seq_cols, "_src"])
        apply_new = (
            winners.filter(F.col("_op") != remove_op)
            .groupBy(group_col)
            .agg(F.count("*").alias("_dn"), F.sum(value_col).alias("_dv"))
        )
    else:
        apply_new = (
            latest.filter(F.col(op_col) != remove_op)
            .groupBy(group_col)
            .agg(F.count("*").alias("_dn"), F.sum(value_col).alias("_dv"))
        )
    deltas = base_agg.select(
        group_col,
        F.col("n_keys").alias("_dn"),
        F.col("total_value").alias("_dv"),
    ).unionByName(retract).unionByName(apply_new)
    return (
        deltas.groupBy(group_col)
        .agg(
            F.sum("_dn").alias("n_keys"),
            F.sum("_dv").alias("total_value"),
        )
        .filter(F.col("n_keys") > 0)
    )


AGG_THROUGH_MARKER = "_agg_through_seq"

# Above this many touched keys per drain, key discovery stays
# distributed (semi-join) instead of collecting to the driver for
# bloom file-pruning + InSet filtering. Micro-batches sit far below it.
_TOUCHED_KEY_CAP = 10_000


def _capped_distinct(df: DataFrame, col: str) -> list | None:
    """The column's distinct values when they fit the driver-side cap
    and contain no NULL (``isin`` cannot express NULL membership and
    the file pruner's in-predicate is null-rejecting), else None — the
    caller then stays on the distributed semi-join path."""
    vals = [
        r[0]
        for r in df.select(col).distinct().limit(_TOUCHED_KEY_CAP + 1).collect()
    ]
    if len(vals) > _TOUCHED_KEY_CAP or any(v is None for v in vals):
        return None
    return vals


def sync_aggregate(
    spark,
    source_path: str,
    agg_path: str,
    group_col: str,
    value_col: str,
    value_cast: str = "decimal(18,2)",
) -> str | None:
    """Maintain ``groupBy(group_col).agg(n_keys, total_value)`` as a
    MATERIALIZED table driven by a history-mode warehouse's own change
    feed — the "materialized view over CDF" pattern, with the crash
    story solved by making the feed offset part of the aggregate's own
    atomic swap:

    - the offset is the ``_agg_through_seq`` sidecar marker INSIDE the
      aggregate table (carried by ``_swap_into``), so "which changes
      the aggregate contains" and the aggregate itself commit together
      — there is no window where one advanced and the other did not;
    - the maintenance step needs keyed state AS OF the offset, and a
      history table IS its own state store at any cut
      (``read_warehouse(as_of_seq=offset)``), so no replica table has
      to stay transactionally consistent with the aggregate;
    - replay/idempotence: a second drain sees an empty window and
      leaves the table untouched; a marker below the compaction
      horizon (consumer offline too long) falls back to ONE full
      recompute at the current cut, which is always correct.

    Exactness: ``value_col`` rides ``value_cast`` (DECIMAL) so base +
    delta equals a full recompute bit-for-bit, per the registry float
    policy. Returns the new through-seq (canonical), or None when there
    was nothing new.

    Scale: the happy path touches the window's keys only — one as-of
    reconstruction bounded by compaction, a semi-join probe of the
    touched keys, and the delta union; the aggregate table is
    O(groups).
    """
    from .apply import _fence

    # table fence on the AGGREGATE table: two concurrent drains would
    # race their offset-carrying swaps (the source is only read)
    with _fence(agg_path, "table"):
        return _sync_aggregate_locked(
            spark, source_path, agg_path, group_col, value_col, value_cast
        )


def _sync_aggregate_locked(
    spark,
    source_path: str,
    agg_path: str,
    group_col: str,
    value_col: str,
    value_cast: str,
) -> str | None:
    from .apply import (
        DELETED_COL,
        KEY_COL,
        SEQ_COL,
        _pruned_table_read,
        _read_table,
        _swap_into,
        current_max_seq,
        read_warehouse,
    )

    import os

    from .. import fsio

    from .apply import table_data_dir as _tdd

    raw = fsio.read_text(
        os.path.join(_tdd(agg_path), AGG_THROUGH_MARKER)
    )
    through = (raw.strip() or None) if raw is not None else None

    src = _read_table(spark, source_path)
    if KEY_COL not in src.columns:
        raise ValueError("sync_aggregate requires a history-mode source")
    from .apply import _canonical_seq

    # tip probe: driver-side over the stats sidecar when the source
    # maintains one — an idle drain then costs O(new files), no scan
    cur = current_max_seq(spark, source_path)
    if cur is None or (through is not None and cur <= through):
        return None  # nothing new: idempotent no-op

    val = F.col(value_col).cast(value_cast)

    def _full_recompute():
        state = read_warehouse(spark, source_path, as_of_seq=cur)
        return state.groupBy(group_col).agg(
            F.count("*").alias("n_keys"),
            F.sum(val).alias("total_value"),
        )

    new_agg = None
    if through is not None:
        try:
            # Touched-key pruning — the whole drain is O(touched keys'
            # history), not O(retained history). Catalyst verifiably
            # does NOT push a left-semi join below row_number().over(
            # partitionBy(key)) (the optimized plan keeps Join LeftSemi
            # above Window), so the semi-join inside
            # incremental_upsert_agg arrives too late: a drain that
            # windowed ALL keys' versions first would pay a full-
            # history key-shuffle per tick regardless of window size —
            # the cost class the operator exists to avoid. Instead the
            # range filter (through, cur] runs FIRST (one filtered
            # scan, no shuffle), the touched keys fall out of it, and
            # the pre-window state is semi-joined to them BEFORE the
            # per-key window — correct because a per-key window needs
            # only that key's rows. Prior liveness is classified from
            # that pruned state (the tombstone filter), not from a
            # full-feed read_changes lag.
            from .apply import CompactionHorizonError, latest_per_key
            from .maintenance import read_history_horizon

            horizon = read_history_horizon(source_path)
            if horizon is not None and through < horizon:
                raise CompactionHorizonError(
                    "offset below compaction horizon"
                )
            # in-range scan: files whose max _seq <= through hold no
            # window rows — with a fresh stats sidecar the scan reads
            # O(new files), not the retained history
            from .apply import _seq_scoped_read

            scoped = _seq_scoped_read(spark, source_path, ">", through)
            versions = (scoped if scoped is not None else src).withColumn(
                SEQ_COL, _canonical_seq(SEQ_COL)
            )
            in_range = versions.filter(
                (F.col(SEQ_COL) > F.lit(through))
                & (F.col(SEQ_COL) <= F.lit(cur))
            )
            # touched-key discovery: micro-batch scale, so the key set
            # collects to the driver (capped) — it both prunes the
            # pre-window read to files whose BLOOM can hold a touched
            # key (layout.collect_file_blooms on _key: the point-lookup
            # pruner) and replaces the semi-join with an InSet filter
            # (no shuffle at all). Past the cap, fall back to the
            # distributed semi-join over the full pre-window scan.
            touched_vals = _capped_distinct(in_range, KEY_COL)
            pre_src = src
            if touched_vals is not None:
                # the KEY_COL bloom/in predicate is always sound; the
                # SEQ_COL bound may only reach the pruner when every
                # recorded _seq stat is canonical (mixed-era tables
                # record RAW stored forms — comparing a canonical bound
                # against them would silently prune pre-window state,
                # or TypeError on long-vs-str), mirroring
                # _seq_scoped_read's guard
                from .apply import _seq_stats_canonical

                preds: list[tuple] = [(KEY_COL, "in", touched_vals)]
                if _seq_stats_canonical(source_path):
                    preds.insert(0, (SEQ_COL, "<=", through))
                pre_scoped = _pruned_table_read(spark, source_path, preds)
                if pre_scoped is not None:
                    pre_src = pre_scoped
                pre = pre_src.withColumn(
                    SEQ_COL, _canonical_seq(SEQ_COL)
                ).filter(
                    (F.col(SEQ_COL) <= F.lit(through))
                    & F.col(KEY_COL).isin(touched_vals)
                )
            else:
                touched = in_range.select(KEY_COL).distinct().alias(
                    "_ivm_touched"
                )
                pre = src.withColumn(
                    SEQ_COL, _canonical_seq(SEQ_COL)
                ).filter(F.col(SEQ_COL) <= F.lit(through)).alias(
                    "_ivm_log"
                ).join(
                    touched,
                    F.col(f"_ivm_log.{KEY_COL}").eqNullSafe(
                        F.col(f"_ivm_touched.{KEY_COL}")
                    ),
                    "left_semi",
                )
            state_before = latest_per_key(pre, KEY_COL, SEQ_COL).filter(
                ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            )
            base_agg = (
                _read_table(spark, agg_path)
                .select(group_col, "n_keys", "total_value")
            )
            # in-range version rows ARE the change envelope: tombstone
            # -> REMOVE, else MODIFY. incremental_upsert_agg's internal
            # latest-per-key collapses replays (duplicate (key, seq)
            # appends) and multi-change keys to the window's winner; a
            # REMOVE of a never-live key retracts nothing and applies
            # nothing — identical semantics to the classified feed.
            changes = in_range.select(
                F.col(KEY_COL).alias("_ik"),
                F.when(
                    F.coalesce(F.col(DELETED_COL), F.lit(False)), "REMOVE"
                )
                .otherwise("MODIFY")
                .alias("op"),
                F.col(group_col),
                val.alias("_iv"),
                F.col(SEQ_COL),
            )
            state = state_before.select(
                F.col(KEY_COL).alias("_ik"),
                F.col(group_col),
                val.alias("_iv"),
                F.col(SEQ_COL),
            )
            new_agg = incremental_upsert_agg(
                state,
                base_agg.withColumn(
                    "total_value", F.col("total_value").cast(value_cast)
                ),
                changes,
                key="_ik",
                group_col=group_col,
                value_col="_iv",
                seq_cols=[SEQ_COL],
            )
        except (ValueError, TypeError):
            # offset below the compaction horizon, or a prune-layer
            # comparison across incomparable _seq eras (TypeError):
            # the incremental window is unusable — one full recompute
            # at the current cut, which is always correct
            new_agg = None
    if new_agg is None:
        new_agg = _full_recompute()
    _swap_into(
        spark, new_agg, agg_path, extra_files={AGG_THROUGH_MARKER: cur}
    )
    return cur


def sync_aggregate_minmax(
    spark,
    source_path: str,
    agg_path: str,
    group_col: str,
    value_col: str,
    value_cast: str = "decimal(18,2)",
) -> str | None:
    """Materialized ``groupBy(group_col).agg(n_keys, total_value,
    min_value, max_value)`` maintained from a history-mode table's
    change feed — extending the view surface beyond the retractable
    count/sum of ``sync_aggregate``.

    MIN/MAX are NOT retractable: deleting the key that held a group's
    minimum cannot be folded into the old aggregate (the second-
    smallest value is unknown there). The standard IVM answer — and
    the one the history layout makes cheap — is TOUCHED-GROUP
    RECOMPUTE: groups the window's changes touch (a moved key touches
    both its old and new group; a delete touches its old group) are
    re-aggregated from the AS-OF state at the new cut, which the
    history table reconstructs on demand precisely because it retains
    versions; untouched groups keep their stored rows verbatim. Count
    and sum ride the same recompute so one table serves all four.

    Scale: the recompute windows only the CANDIDATE KEYS' history —
    keys any of whose versions carry a touched group value (a superset
    of the groups' current keys, needed because group values move
    across a key's versions and a group-filtered window cut mid-
    history would arbitrate wrongly). Discovery and the candidate
    reads are sidecar-pruned like ``sync_aggregate``'s drain: touched
    keys/groups/candidates collect to the driver under a cap, the
    group-filtered discovery scan prunes to files whose ``group_col``
    min/max-or-bloom can hold a touched group (record ``group_col`` in
    the stats sidecar and OPTIMIZE ZORDER on it to make those files
    CLUSTER), and candidate history reads prune by ``_key`` bloom —
    so a steady-state drain is O(candidate files), not O(retained
    history) (measured flat at 1x/10x/100x retained history,
    scripts/probe_sync_aggregate_scale.py --minmax). Cap overflows and
    NULL keys/groups fall back to the distributed null-safe
    semi-joins. Same crash story as ``sync_aggregate``: the feed
    offset commits inside the aggregate's own swap, re-drains are
    no-ops, an offset below the compaction horizon falls back to one
    full recompute.
    """
    from .apply import (
        DELETED_COL,
        KEY_COL,
        SEQ_COL,
        _canonical_seq,
        _fence,
        _read_table,
        _swap_into,
        current_max_seq,
        read_warehouse,
    )

    with _fence(agg_path, "table"):
        import os

        from .. import fsio

        from .apply import table_data_dir as _tdd

        raw = fsio.read_text(
            os.path.join(_tdd(agg_path), AGG_THROUGH_MARKER)
        )
        through = (raw.strip() or None) if raw is not None else None

        src = _read_table(spark, source_path)
        if KEY_COL not in src.columns:
            raise ValueError(
                "sync_aggregate_minmax requires a history-mode source"
            )
        cur = current_max_seq(spark, source_path)
        if cur is None or (through is not None and cur <= through):
            return None

        val = F.col(value_col).cast(value_cast)
        aggs = [
            F.count("*").alias("n_keys"),
            F.sum(val).alias("total_value"),
            F.min(val).alias("min_value"),
            F.max(val).alias("max_value"),
        ]

        def _full_recompute():
            state = read_warehouse(spark, source_path, as_of_seq=cur)
            return state.groupBy(group_col).agg(*aggs)

        new_agg = None
        if through is not None:
            try:
                from .apply import (
                    CompactionHorizonError,
                    _pruned_table_read,
                    _seq_scoped_read,
                    _seq_stats_canonical,
                    latest_per_key,
                )
                from .maintenance import read_history_horizon

                horizon = read_history_horizon(source_path)
                if horizon is not None and through < horizon:
                    raise CompactionHorizonError(
                        "offset below compaction horizon"
                    )

                scoped = _seq_scoped_read(spark, source_path, ">", through)
                versions_new = (
                    scoped if scoped is not None else src
                ).withColumn(SEQ_COL, _canonical_seq(SEQ_COL))
                in_range = versions_new.filter(
                    (F.col(SEQ_COL) > F.lit(through))
                    & (F.col(SEQ_COL) <= F.lit(cur))
                )
                seq_ok = _seq_stats_canonical(source_path)

                def _keyed_history(keys: list, bound: str) -> DataFrame:
                    """Sidecar-pruned read of the named keys' versions
                    with seq <= bound: the _key bloom/in-stats prune
                    the file set (the SEQ_COL bound joins only when the
                    recorded stats are canonical), the row filter
                    re-applies both — the same scan shape as
                    sync_aggregate's drain."""
                    preds: list[tuple] = [(KEY_COL, "in", keys)]
                    if seq_ok:
                        preds.insert(0, (SEQ_COL, "<=", bound))
                    pruned = _pruned_table_read(spark, source_path, preds)
                    base = pruned if pruned is not None else src
                    return base.withColumn(
                        SEQ_COL, _canonical_seq(SEQ_COL)
                    ).filter(
                        (F.col(SEQ_COL) <= F.lit(bound))
                        & F.col(KEY_COL).isin(keys)
                    )

                _av_memo: list = []

                def _all_versions() -> DataFrame:
                    # the distributed fallbacks' full retained-history
                    # scan — built only when a driver cap overflows or
                    # a NULL key/group forces the semi-join path
                    if not _av_memo:
                        _av_memo.append(
                            src.withColumn(
                                SEQ_COL, _canonical_seq(SEQ_COL)
                            ).filter(F.col(SEQ_COL) <= F.lit(cur))
                        )
                    return _av_memo[0]

                # the staged discovery below costs eager driver jobs
                # (one capped collect per stage); they only pay when a
                # stats sidecar exists for the pruner to act on —
                # without one the distributed semi-join plans are
                # strictly better (measured ~+2s per certificate drain
                # on a sidecar-less table)
                from .layout import _load_sidecar

                has_stats = _load_sidecar(source_path) is not None

                # prior state of the window's touched keys (their
                # pre-window groups must retract: group moves and
                # deletes retract from a group the window rows may not
                # name) — InSet + bloom-pruned when the key set fits
                # the driver cap, so the scan is O(touched files), not
                # O(retained history)
                touched_vals = (
                    _capped_distinct(in_range, KEY_COL) if has_stats else None
                )
                if touched_vals is not None:
                    pre = _keyed_history(touched_vals, through)
                else:
                    touched_keys = in_range.select(KEY_COL).distinct().alias(
                        "_mm_tk"
                    )
                    pre = _all_versions().filter(
                        F.col(SEQ_COL) <= F.lit(through)
                    ).alias("_mm_pre").join(
                        touched_keys,
                        F.col(f"_mm_pre.{KEY_COL}").eqNullSafe(
                            F.col(f"_mm_tk.{KEY_COL}")
                        ),
                        "left_semi",
                    )
                prior_state = latest_per_key(pre, KEY_COL, SEQ_COL).filter(
                    ~F.coalesce(F.col(DELETED_COL), F.lit(False))
                )
                # only LIVE in-window versions name NEW groups; a
                # tombstone's stored group value (typically NULL — a
                # key-only REMOVE image) never contributes to state,
                # and its retraction rides the key's PRIOR group from
                # prior_state. Including it would both recompute a
                # never-touched group and — when NULL — force every
                # delete-bearing window onto the fallback scans.
                touched_group_frame = (
                    in_range.filter(
                        ~F.coalesce(F.col(DELETED_COL), F.lit(False))
                    )
                    .select(group_col)
                    .unionByName(prior_state.select(group_col))
                )
                # candidate keys: any version carries a touched group
                # (superset of the groups' current keys — group values
                # move across versions, so the window must see the
                # candidates' FULL history, then filter on the latest).
                # Fast path: touched groups collect to the driver, the
                # discovery scan prunes to files whose group_col stats/
                # bloom can hold one (after OPTIMIZE ZORDER on the
                # group column those files CLUSTER — record group_col
                # in the stats sidecar to opt in), and the candidates'
                # history read prunes by _key bloom. Each cap overflow
                # or NULL value falls back to the null-safe distributed
                # semi-joins (a NULL group is a legitimate aggregate
                # row, a NULL key a legitimate state group).
                def _stored_agg() -> DataFrame:
                    # the maintained table, value columns re-cast to
                    # the exact-arithmetic type (shared by both keep
                    # paths below so the projection cannot drift)
                    return _read_table(spark, agg_path).select(
                        group_col,
                        "n_keys",
                        F.col("total_value").cast(value_cast).alias(
                            "total_value"
                        ),
                        F.col("min_value").cast(value_cast).alias(
                            "min_value"
                        ),
                        F.col("max_value").cast(value_cast).alias(
                            "max_value"
                        ),
                    )

                group_vals = (
                    _capped_distinct(touched_group_frame, group_col)
                    if has_stats
                    else None
                )
                cand_vals = None
                if group_vals is not None:
                    disc = _pruned_table_read(
                        spark, source_path, [(group_col, "in", group_vals)]
                    )
                    disc_base = disc if disc is not None else src
                    cand_src = disc_base.withColumn(
                        SEQ_COL, _canonical_seq(SEQ_COL)
                    ).filter(
                        F.col(group_col).isin(group_vals)
                        & (F.col(SEQ_COL) <= F.lit(cur))
                    )
                    cand_vals = _capped_distinct(cand_src, KEY_COL)
                if group_vals is not None and cand_vals is not None:
                    cand_latest = latest_per_key(
                        _keyed_history(cand_vals, cur), KEY_COL, SEQ_COL
                    ).filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
                    recomputed = (
                        cand_latest.filter(
                            F.col(group_col).isin(group_vals)
                        )
                        .groupBy(group_col)
                        .agg(*aggs)
                    )
                    # NULL-group base rows are untouched by
                    # construction (a NULL in the touched set takes
                    # the fallback): keep them through the
                    # three-valued isin
                    base_kept = _stored_agg().filter(
                        F.coalesce(
                            ~F.col(group_col).isin(group_vals),
                            F.lit(True),
                        )
                    )
                else:
                    touched_groups = touched_group_frame.distinct()
                    tg = F.broadcast(
                        touched_groups.select(group_col).alias("_mm_tg")
                    )
                    cand_keys = (
                        _all_versions().alias("_mm_v1")
                        .join(
                            tg,
                            F.col(f"_mm_v1.{group_col}").eqNullSafe(
                                F.col(f"_mm_tg.{group_col}")
                            ),
                            "left_semi",
                        )
                        .select(KEY_COL)
                        .distinct()
                        .alias("_mm_ck")
                    )
                    cand_latest = latest_per_key(
                        _all_versions().alias("_mm_v2").join(
                            cand_keys,
                            F.col(f"_mm_v2.{KEY_COL}").eqNullSafe(
                                F.col(f"_mm_ck.{KEY_COL}")
                            ),
                            "left_semi",
                        ),
                        KEY_COL,
                        SEQ_COL,
                    ).filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
                    recomputed = (
                        cand_latest.alias("_mm_cl")
                        .join(
                            tg,
                            F.col(f"_mm_cl.{group_col}").eqNullSafe(
                                F.col(f"_mm_tg.{group_col}")
                            ),
                            "left_semi",
                        )
                        .groupBy(group_col)
                        .agg(*aggs)
                    )
                    base_kept = _stored_agg().alias("_mm_base").join(
                        tg,
                        F.col(f"_mm_base.{group_col}").eqNullSafe(
                            F.col(f"_mm_tg.{group_col}")
                        ),
                        "left_anti",
                    )
                new_agg = base_kept.unionByName(recomputed)
            except (ValueError, TypeError):
                new_agg = None
        if new_agg is None:
            new_agg = _full_recompute()
        _swap_into(
            spark, new_agg, agg_path, extra_files={AGG_THROUGH_MARKER: cur}
        )
        return cur
