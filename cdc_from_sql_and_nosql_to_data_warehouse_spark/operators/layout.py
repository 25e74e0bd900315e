"""Data-layout operators: Z-order clustering and file-level data skipping.

The reference has no layout management (its warehouse load is
append-only — SURVEY.md §2.2 K5); at 100 TB, file-level clustering is
what turns min/max file statistics into real scan pruning when queries
filter on MORE than one column. A range partition on (a, b) prunes only
on ``a``; interleaving the bits of both columns (a Z-/Morton curve) and
range-partitioning on the interleaved value keeps files tight in BOTH
dimensions, so either predicate skips most files.

``zorder_sql`` is pure integer arithmetic (literal shifts, no UDF, no
shuffle) — it rides the scan inside whole-stage codegen.
``zorder_repartition`` is the write-side job: one range shuffle on the
z-value, files sorted within partitions so min/max stats are tight.

``collect_file_stats`` / ``read_skipping`` are the consumer of that
layout: a per-file min/max index (the stats a Delta transaction log or
Iceberg manifest carries, persisted as an underscore sidecar on plain
parquet) and the pruned reader that plans a scan over ONLY the files
whose range intersects the predicate. Parquet row-group stats already
prune *inside* an opened file; file-level skipping avoids listing,
opening, and footer-reading the file at all — on an object store the
difference between a query planning O(matching files) and O(table
files) requests.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import fsio
from ..functions.sql_templates import quote_ident
from . import fileset
from .apply import (
    SEQ_COL,
    _footer_schema,
    _is_canonical_seq_str,
    _pruned_table_read,
    _read_table,
    _schema_union,
    table_data_dir,
)


def zorder_sql(
    col_names: list[str], bits: int = 16, quote=quote_ident
) -> str:
    """Interleave the low ``bits`` bits of each named column (non-
    negative longs — bucket or rank-normalize first) into one Morton
    key, as SQL text.

    Bit j of column i lands at position j * n_cols + i, built from
    literal shift amounts so the whole expression is a flat codegen
    integer tree. n_cols * bits must stay <= 63. ``quote`` renders each
    name for the target dialect (Spark's backticks by default), so an
    external engine can verify the clustering key from the same text.
    """
    n = len(col_names)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a long")
    terms = [
        f"((({quote(c)} >> {j}) & 1) << {j * n + i})"
        for i, c in enumerate(col_names)
        for j in range(bits)
    ]
    return " | ".join(terms)


def zorder_value(col_names: list[str], bits: int = 16) -> Column:
    """``zorder_sql`` as a Column: one expression the JVM parses once."""
    return F.expr(zorder_sql(col_names, bits))


def with_zorder(df: DataFrame, cols: list[Column], bits: int = 16) -> DataFrame:
    """``df`` plus its Morton key ``_z`` over ``cols`` (each projected
    into a named input column first, dropped again after)."""
    names = [f"_zin{i}" for i in range(len(cols))]
    return (
        df.withColumns(dict(zip(names, cols)))
        .withColumn("_z", zorder_value(names, bits))
        .drop(*names)
    )


# tag lists memoized per partition count: one tiny probe job per
# distinct n per session (maintenance cadence)
_ROUTING_TAG_CACHE: dict[int, list[int]] = {}


def _collision_free_tags(spark, n: int) -> list[int]:
    """``n`` distinct ints whose shuffle-hash residues mod ``n`` form a
    permutation of 0..n-1 — the exact-routing trick that lets a plain
    hash ``repartition(n, tag)`` place bucket ``i`` ALONE in its own
    output partition (hashing the bucket id directly would merge any
    two buckets that collide mod n, widening file ranges
    nondeterministically). Candidates are rated with Spark's own
    ``F.hash`` — the same Murmur3 the HashPartitioning exchange
    applies — so the routing is exact by construction, not by a
    driver-side hash reimplementation."""
    got = _ROUTING_TAG_CACHE.get(n)
    if got is not None:
        return got
    tags: dict[int, int] = {}
    lo = 0
    # coupon-collector: ~n·ln n candidates expected; loop until covered
    while len(tags) < n:
        rows = (
            spark.range(lo, lo + 8 * n + 64)
            .select(
                F.col("id").cast("int").alias("t"),
                F.pmod(F.hash(F.col("id").cast("int")), F.lit(n)).alias("r"),
            )
            .collect()
        )
        for row in rows:
            if row["r"] not in tags:
                tags[row["r"]] = row["t"]
        lo += 8 * n + 64
    out = [tags[i] for i in range(n)]
    _ROUTING_TAG_CACHE[n] = out
    return out


def _deterministic_quantiles(
    zdf: DataFrame, n_partitions: int, target_sample: int = 200_000
) -> list[int]:
    """Explicit z-key bucket boundaries from a DETERMINISTIC
    computation: a hash-membership sample (``xxhash64(_z, seed) % m ==
    0`` — a pure function of the DATA, unlike reservoir sampling or
    ``percentile_approx``, whose sketch merges are shuffle-order-
    sensitive) collected to the driver, exact quantiles taken there.
    Same data in → same boundaries out, on any cluster, any run. The
    sample is ~``target_sample`` values (one count + one filtered
    collect of longs — maintenance-cadence cost next to the full
    rewrite this feeds); small inputs collect whole."""
    n = zdf.count()
    if n == 0:
        return []
    m = max(1, n // target_sample)
    sample = [
        r[0]
        for r in zdf.select("_z")
        .filter(F.pmod(F.xxhash64(F.col("_z"), F.lit(41)), F.lit(m)) == 0)
        .collect()
        if r[0] is not None
    ]
    if not sample:
        return []
    sample.sort()
    return sorted(
        {
            int(sample[min(len(sample) - 1, (i * len(sample)) // n_partitions)])
            for i in range(1, n_partitions)
        }
    )


def zorder_repartition(
    df: DataFrame,
    cols: list[Column],
    n_partitions: int,
    bits: int = 16,
) -> DataFrame:
    """Cluster ``df`` into ``n_partitions`` z-ordered output partitions
    with DETERMINISTIC bucket boundaries, rows sorted by the Morton key
    within each partition so per-file column min/max stats stay tight
    for pruning.

    ``repartitionByRange`` was rejected here: its range boundaries come
    from reservoir SAMPLING, so the file layout — and with it every
    downstream prune count — wobbled with session state (the round-7
    suite flake in tests/test_data_skipping.py). ``percentile_approx``
    was rejected too: its sketch merges are shuffle-order-sensitive, so
    boundaries can drift inside the rank-error window run to run.
    Instead ``_deterministic_quantiles`` derives explicit boundaries
    from a hash-membership sample (a pure function of the data), each
    row's bucket is the count of boundaries below its key (a flat
    codegen comparison tree, no shuffle), and a collision-free tag per
    bucket (``_collision_free_tags``) routes every bucket to its own
    shuffle partition. Cost vs the sampled plan: one count + one
    sample collect over the key column — maintenance-cadence work,
    where reproducible clustering quality is worth a scan.
    """
    zdf = with_zorder(df, cols, bits)
    if n_partitions <= 1:
        return zdf.coalesce(1).sortWithinPartitions("_z").drop("_z")
    bounds = _deterministic_quantiles(zdf, n_partitions)
    if not bounds:  # empty input, or a single-valued key: one bucket
        return zdf.repartition(1).sortWithinPartitions("_z").drop("_z")
    k = len(bounds) + 1
    bucket = None
    for b in bounds:
        piece = (F.col("_z") > F.lit(b)).cast("int")
        bucket = piece if bucket is None else bucket + piece
    tags = _collision_free_tags(df.sparkSession, k)
    tag = F.element_at(
        F.array(*[F.lit(t) for t in tags]), bucket + F.lit(1)
    ).cast("int")
    return (
        zdf.withColumn("_zb_tag", tag)
        .repartition(k, F.col("_zb_tag"))
        .sortWithinPartitions("_z")
        .drop("_z", "_zb_tag")
    )


def zorder_scale(c: Column, lo, hi, bits: int = 16) -> Column:
    """Affinely map a numeric column's [lo, hi] range onto the full
    [0, 2^bits) grid (clamped), so every interleaved bit position
    carries signal. Skipping this step quietly cripples the curve: a
    column spanning only 2^12 values under ``bits=16`` leaves its top
    four interleave positions constant-zero, letting the OTHER column's
    high bits dominate file ranges — measured on lineitem sf0.1, a
    1-month ship-date window kept 33/64 files unscaled vs 7/64 scaled
    (scripts/probe_data_skipping.py). Pure codegen arithmetic, like
    ``zorder_value``."""
    top = (1 << bits) - 1
    scaled = (
        (c.cast("double") - F.lit(float(lo)))
        * F.lit(float(top))
        / F.lit(float(hi - lo))
    ).cast("long")
    return F.least(F.greatest(scaled, F.lit(0)), F.lit(top))


# ---------------------------------------------------------------------------
# File-level data skipping: per-file min/max stats sidecar + pruned read.
# ---------------------------------------------------------------------------

FILE_STATS_SIDECAR = "_file_stats.json"
_STATS_VERSION = 1

# Sidecar formats. Per-file entries are keyed by the file's path
# relative to the table dir and grouped by ``_shard_component``, its
# first path component (the top-level partition dir; '' for root-level
# files). A table whose files sit in at most one component keeps the
# format-1 sidecar: one JSON of columns, schema, bloom config and every
# entry. More than one component takes format 2, because one monolithic
# JSON is O(table files) of driver parse per cold read and of rewrite
# per accretion — tens of MB at ~100k files. ``_file_stats.json`` is
# then a small index (columns/schema/bloom plus, per shard, its
# component, entry count and a FILESET HASH of its file names), and the
# entries live in ``_file_stats.d/<sha1(component)>.json``. Parquet data
# files are immutable and uniquely named, so a shard whose hash matches
# the component's committed files is current: accretion carries it
# without parsing or rewriting it, and ``prune_files`` loads only the
# shards whose partition subtrees survive the directory walk (the lazy
# ``_ShardedFiles`` view keeps plain-mapping semantics for every
# consumer). This is the decomposition a lakehouse manifest-list makes:
# one small index naming per-partition manifests. ``_dump_sidecar`` is
# the one writer of both formats.
STATS_SHARD_DIR = "_file_stats.d"
_STATS_VERSION_SHARDED = 2


def _shard_component(rel: str) -> str:
    """A file's shard key: its first path component under the table
    dir ('' for root-level files of flat tables)."""
    return rel.split(os.sep, 1)[0] if os.sep in rel else ""


def _shard_fname(comp: str) -> str:
    import hashlib

    return hashlib.sha1(comp.encode()).hexdigest()[:16] + ".json"


def _fileset_hash(rels) -> str:
    import hashlib

    return hashlib.sha1("\n".join(sorted(rels)).encode()).hexdigest()[:16]


class _ShardedFiles:
    """Lazy Mapping over the sharded per-file stats: point lookups
    (``rel in files`` / ``files[rel]``) parse ONLY that file's shard,
    memoized; whole-table consumers (``values()`` — the canonicality
    walk, the feed-tip vote) load all shards once per sidecar version.
    ``len`` comes from the manifest index without any shard I/O."""

    def __init__(self, shard_dir: str, index: dict):
        self._dir = shard_dir
        # comp -> (fname, n, fileset-hash)
        self._by_comp = {
            meta["dir"]: (fname, int(meta.get("n", 0)), meta.get("fh"))
            for fname, meta in index.items()
        }
        self._loaded: dict = {}

    def _load(self, comp: str) -> dict:
        hit = self._loaded.get(comp)
        if hit is not None:
            return hit
        entry = self._by_comp.get(comp)
        if entry is None:
            self._loaded[comp] = {}
            return self._loaded[comp]
        try:
            raw = fsio.read_text(os.path.join(self._dir, entry[0]))
            files = json.loads(raw).get("files", {})
        except (OSError, TypeError, ValueError):
            # a carried-through-swap manifest references shards the
            # swap did not copy: conservative empty (stats advisory)
            files = {}
        self._loaded[comp] = files
        return files

    def __contains__(self, rel) -> bool:
        return rel in self._load(_shard_component(rel))

    def __getitem__(self, rel):
        return self._load(_shard_component(rel))[rel]

    def get(self, rel, default=None):
        return self._load(_shard_component(rel)).get(rel, default)

    def __len__(self) -> int:
        return sum(n for _f, n, _fh in self._by_comp.values())

    def __bool__(self) -> bool:
        return len(self) > 0

    def _all(self) -> dict:
        out = {}
        for comp in self._by_comp:
            out.update(self._load(comp))
        return out

    def __iter__(self):
        return iter(self._all())

    def keys(self):
        return self._all().keys()

    def values(self):
        return self._all().values()

    def items(self):
        return self._all().items()


# path -> [(mtime, size), parsed dict, _seq canonicality verdict or
# None]. One hot read_changes tick consults the sidecar several times
# (canonicality guard, selectivity gate, two pruned reads);
# _dump_sidecar replaces the file atomically (new inode, new mtime), so
# (mtime, size) is a sound freshness key, and the multi-MB json.loads
# and the verdict's walk over every entry run once per sidecar version.
_SIDECAR_CACHE: dict = {}


def _load_sidecar(path: str) -> dict | None:
    """The stats sidecar, or None when absent OR unreadable. Stats are
    ADVISORY by contract (a missing sidecar only costs pruning, never
    correctness), so a torn/corrupt file from a legacy non-atomic
    writer degrades to "no stats" instead of failing every pruned
    read; _dump_sidecar writes atomically so new corruption cannot
    occur. Parses are memoized per (mtime, size)."""
    path = table_data_dir(path)
    sidecar = os.path.join(path, FILE_STATS_SIDECAR)
    key = (fsio.mtime(sidecar), fsio.size(sidecar))
    if None in key:
        _SIDECAR_CACHE.pop(path, None)
        return None
    hit = _SIDECAR_CACHE.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    try:
        parsed = json.loads(fsio.read_text(sidecar))
    except (OSError, TypeError, ValueError):
        return None
    if "shards" in parsed and "files" not in parsed:
        # sharded manifest: per-file entries come through the lazy
        # view (any shard rewrite also replaces the manifest, so the
        # manifest's (mtime, size) stays a sound freshness key for the
        # whole assembly)
        parsed = dict(parsed)
        parsed["files"] = _ShardedFiles(
            os.path.join(path, STATS_SHARD_DIR), parsed["shards"]
        )
    _SIDECAR_CACHE[path] = [key, parsed, None]
    return parsed


def _seq_verdict(path: str) -> bool:
    """``apply._seq_stats_canonical``'s verdict, memoized with the
    sidecar parse it walks."""
    path = table_data_dir(path)
    stats = _load_sidecar(path)
    if stats is None:
        return True
    hit = _SIDECAR_CACHE.get(path)
    if hit is not None and hit[1] is stats and hit[2] is not None:
        return hit[2]
    verdict = SEQ_COL not in stats.get("columns", []) or all(
        bound is None or _is_canonical_seq_str(bound)
        for entry in stats["files"].values()
        for bound in entry.get(SEQ_COL, ())
    )
    if hit is not None and hit[1] is stats:
        hit[2] = verdict
    return verdict


def _parts(files: dict) -> dict:
    """Per-file entries grouped for ``_dump_sidecar``: shard component
    -> (fileset hash, {rel: entry})."""
    by_comp: dict[str, dict] = {}
    for rel, entry in files.items():
        by_comp.setdefault(_shard_component(rel), {})[rel] = entry
    return {c: (_fileset_hash(m), m) for c, m in by_comp.items()}


def _dump_sidecar(
    path: str, head: dict, parts: dict, carried: dict | None = None
) -> dict:
    """The ONE writer of the stats sidecar; returns it as
    ``_load_sidecar`` would. ``head`` is the table-level metadata
    (columns, schema, bloom), ``parts`` maps shard components to
    (fileset hash, entries) to write, and ``carried`` holds prior index
    entries of shards kept as they are (neither parsed nor rewritten).
    At most one component persists as one format-1 JSON and sweeps the
    shards a sharded past left (a sweep failure must not fail the dump,
    whose sidecar is already written). More persist as format 2: the
    shards in ``parts`` are written first (atomic each), shards the
    index no longer names are swept, and the index manifest is
    replaced LAST, so its (mtime, size) freshness key covers every
    shard it names."""
    manifest = os.path.join(path, FILE_STATS_SIDECAR)
    shard_dir = os.path.join(path, STATS_SHARD_DIR)
    doc = dict(head)
    if len(parts) + len(carried or ()) <= 1:
        doc["version"] = _STATS_VERSION
        doc["files"] = next((m for _fh, m in parts.values()), {})
        fsio.atomic_write_text(manifest, json.dumps(doc))
        try:
            for name in fsio.listdir(shard_dir):
                fsio.remove(os.path.join(shard_dir, name))
        except OSError:
            pass
        fsio.rmdir(shard_dir)
        return doc
    index = dict(carried or {})
    fsio.makedirs(shard_dir)
    for comp, (fh, fmap) in parts.items():
        fname = _shard_fname(comp)
        index[fname] = {"dir": comp, "n": len(fmap), "fh": fh}
        fsio.atomic_write_text(
            os.path.join(shard_dir, fname), json.dumps({"files": fmap})
        )
    for name in fsio.listdir(shard_dir):
        if name not in index:
            fsio.remove(os.path.join(shard_dir, name))
    doc["version"] = _STATS_VERSION_SHARDED
    doc["shards"] = dict(sorted(index.items()))
    fsio.atomic_write_text(manifest, json.dumps(doc))
    doc["files"] = _ShardedFiles(shard_dir, doc["shards"])
    doc["files"]._loaded.update({c: m for c, (_fh, m) in parts.items()})
    return doc


def _enc_stat(v):
    """JSON-encode one min/max value, tagging non-native types so the
    prune-time comparison happens in the value's own domain (an ISO
    string compare on timestamps would break at fractional-second
    boundaries; a float() on decimals would round)."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"t": "date", "v": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        return {"t": "dec", "v": str(v)}
    raise TypeError(
        f"unsupported file-stats value type: {type(v).__name__} "
        "(stats columns must be numeric, string, date, timestamp, "
        "or decimal)"
    )


def _dec_stat(e):
    if isinstance(e, dict):
        if e["t"] == "ts":
            return datetime.datetime.fromisoformat(e["v"])
        if e["t"] == "date":
            return datetime.date.fromisoformat(e["v"])
        if e["t"] == "dec":
            return decimal.Decimal(e["v"])
        raise ValueError(f"unknown stats type tag: {e['t']!r}")
    return e


def _coerce_bound(v):
    """Normalize a caller's predicate value into the decoded-stat
    domain (datetime/date/Decimal pass through; everything else must
    already be a JSON-native scalar)."""
    _enc_stat(v)  # raises on unsupported types
    return v


def _stat_files(spark: SparkSession, path: str, columns: list[str], df) -> dict:
    """Per-file min/max of ``columns`` over ``df`` (a read of ``path``
    or a subset of its files) -> {relative file path: {col: [min, max]}}.
    One column-pruned aggregate keyed by file name; O(files) result rows
    on the driver."""
    aggs = []
    for c in columns:
        aggs.append(F.min(c).alias(f"min__{c}"))
        aggs.append(F.max(c).alias(f"max__{c}"))
    rows = (
        df.select(*columns)
        .withColumn("_file", F.input_file_name())
        .groupBy("_file")
        .agg(*aggs)
        .collect()
    )
    root = os.path.abspath(path)
    files = {}
    for r in rows:
        fpath = r["_file"]
        if fpath.startswith("file:"):
            fpath = fpath[len("file:"):]
        rel = os.path.relpath(os.path.abspath(fpath), root)
        files[rel] = {
            c: [_enc_stat(r[f"min__{c}"]), _enc_stat(r[f"max__{c}"])]
            for c in columns
        }
    return files


def collect_file_stats(
    spark: SparkSession,
    path: str,
    columns: list[str],
    incremental: bool = False,
) -> dict:
    """ONE column-pruned distributed pass over the table: per-file
    min/max (nulls excluded, as parquet stats define them) for
    ``columns``, persisted to an underscore-prefixed JSON sidecar at the
    table root (invisible to Spark's listing, carried through
    ``_swap_into`` swaps only if registered — stats are advisory, a
    stale or missing sidecar only costs pruning, never correctness,
    because ``read_skipping`` includes unknown files conservatively and
    re-applies the full predicate to every row it reads). The pass
    reads through the table's own reader (``apply._read_table``: the
    schema manifest when the table carries one, so no footer merge).

    This is the maintenance-time twin of what a lakehouse writer stamps
    into its log at commit time; on plain parquet the stats pass reads
    ONLY the stat columns (column pruning makes it a footer+column
    scan, not a table scan). File keys are stored relative to the table
    root so the sidecar survives a directory move.

    ``incremental=True`` accretes instead (``_accrete``): entries of
    surviving files are kept, vanished files drop, and only files the
    sidecar has never seen are scanned — O(new files), not O(table):
    after a streaming append tick, refreshing stats costs the new
    files' footers, exactly how a lakehouse log accretes per-commit
    stats. Falls back to the full pass when there is no sidecar, its
    column set differs, or the new files conflict with the recorded
    schema. (After a compaction/OPTIMIZE rewrite, every file is new, so
    incremental degenerates to the full pass by itself.)

    Scale: the aggregate is one shuffle keyed by file name — O(files
    scanned) result rows collected to the driver, the same order of
    driver state every lakehouse keeps per snapshot.
    """
    path = table_data_dir(path)
    existing = _load_sidecar(path)
    head = {"columns": columns}
    if existing and existing.get("bloom"):
        # keep the bloom configuration through min/max refreshes; files
        # whose bloom entry was dropped by a full rebuild probe
        # conservatively until collect_file_blooms re-stamps them
        # (refresh_file_stats chains the two)
        head["bloom"] = existing["bloom"]
    if incremental and existing and existing.get("columns") == columns:
        out = _accrete(spark, path, head, existing)
        if out is not None:
            return out
    df = _read_table(spark, path)
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"stats columns not in table: {missing}")
    head["schema"] = df.schema.json()
    return _dump_sidecar(path, head, _parts(_stat_files(spark, path, columns, df)))


def _accrete(
    spark: SparkSession, path: str, head: dict, prior: dict
) -> dict | None:
    """Accrete ``prior`` (either format) to the table's committed
    files under ``head``'s columns, or None when the new files conflict
    with the recorded schema (the caller then runs the full pass, which
    re-derives the table's own schema). Files are grouped by shard
    component; a component whose fileset hash matches the prior index
    is carried without being parsed. The others keep the entries of
    their surviving files,
    and every file no entry covers is statted in one column-pruned job
    under the recorded schema, widened by ``apply._schema_union`` with
    the footer schema of exactly those files (a mid-stream evolving
    append must not vanish from sidecar-schema reads)."""
    view = prior["files"]
    groups: dict[str, list[str]] = {}
    for rel in fileset.committed_files(path):
        groups.setdefault(_shard_component(rel), []).append(rel)
    index = {}
    if isinstance(view, _ShardedFiles) and len(groups) > 1:
        index = view._by_comp
    parts, carried, new = {}, {}, []
    for comp, rels in groups.items():
        fh = _fileset_hash(rels)
        meta = index.get(comp)
        if meta is not None and meta[2] == fh:
            carried[meta[0]] = {"dir": comp, "n": meta[1], "fh": fh}
            continue
        parts[comp] = (fh, {r: view[r] for r in rels if r in view})
        new += [r for r in rels if r not in view]
    head["schema"] = prior["schema"]
    if new:
        recorded = StructType.fromJson(json.loads(prior["schema"]))
        paths = [os.path.join(path, r) for r in new]
        schema = _schema_union(recorded, _footer_schema(spark, path, paths))
        if schema is None:
            return None
        if schema != recorded:
            head["schema"] = schema.json()
        df = spark.read.schema(schema).option("basePath", path).parquet(*paths)
        stats = _stat_files(spark, path, head["columns"], df)
        for r in new:
            if r in stats:
                parts[_shard_component(r)][1][r] = stats[r]
    return _dump_sidecar(path, head, parts, carried)


def _promote(stat, bound):
    """SQL comparison promotion for the one cross-type pair Python
    refuses to order: DATE vs TIMESTAMP compares as midnight (the cast
    Spark inserts for ``date_col >= timestamp_lit`` and vice versa)."""
    if isinstance(stat, datetime.datetime) and type(bound) is datetime.date:
        bound = datetime.datetime.combine(bound, datetime.time())
    elif type(stat) is datetime.date and isinstance(bound, datetime.datetime):
        stat = datetime.datetime.combine(stat, datetime.time())
    return stat, bound


def _file_matches(stats_for_file: dict, col: str, op: str, *vals) -> bool:
    """Can any row in a file with these [min, max] satisfy the
    predicate? min/max exclude nulls and every supported predicate is
    null-rejecting (SQL comparison semantics), so a file whose column
    is entirely null (min is None) can never match."""
    if col not in stats_for_file:
        return True  # no stats for this column: conservative
    lo, hi = (_dec_stat(e) for e in stats_for_file[col])
    if lo is None:
        return False  # all-null column: a comparison never holds
    lo, v0 = _promote(lo, vals[0])
    hi, _ = _promote(hi, vals[0])
    vals = (v0, *(_promote(lo, v)[1] for v in vals[1:]))
    if op == "=":
        return lo <= vals[0] <= hi
    if op == "<":
        return lo < vals[0]
    if op == "<=":
        return lo <= vals[0]
    if op == ">":
        return hi > vals[0]
    if op == ">=":
        return hi >= vals[0]
    if op == "between":
        return hi >= vals[0] and lo <= vals[1]
    if op == "in":
        return any(lo <= _promote(lo, v)[1] <= hi for v in vals[0])
    raise ValueError(f"unsupported skipping predicate op: {op!r}")


def _hive_dir_value(name: str):
    """Parse a hive partition dir name 'col=value' -> (col, value str or
    None for __HIVE_DEFAULT_PARTITION__), or None if not hive-shaped."""
    from urllib.parse import unquote

    if "=" not in name:
        return None
    col, raw = name.split("=", 1)
    return col, (None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw))


def _dir_passes(col: str, sval, preds: list[tuple]) -> bool:
    """Can a hive partition dir with this column value satisfy every
    predicate on that column? Values arrive as dir-name STRINGS; each is
    cast into the predicate value's own type (int/float/str/date/ts —
    the same rendering Spark writes), and any parse failure keeps the
    dir (conservative, like every other unknown here)."""
    for p in preds:
        if p[0] != col:
            continue
        if sval is None:
            return False  # null partition value: comparisons never hold
        bound = p[2][0] if p[1] == "in" and p[2] else p[2] if len(p) > 2 else None
        try:
            if isinstance(bound, bool):
                v = sval == "true"
            elif isinstance(bound, int):
                v = int(sval)
            elif isinstance(bound, float):
                v = float(sval)
            elif isinstance(bound, datetime.datetime):
                v = datetime.datetime.fromisoformat(sval)
            elif isinstance(bound, datetime.date):
                v = datetime.date.fromisoformat(sval)
            else:
                v = sval
        except (ValueError, TypeError):
            return True
        # a partition dir is a [v, v] range: reuse the stats matcher
        try:
            if not _file_matches({col: [_enc_stat(v), _enc_stat(v)]}, *p):
                return False
        except TypeError:
            return True
    return True


def prune_files(path: str, predicates: list[tuple]) -> tuple[list[str], int]:
    """Resolve the AND of ``predicates`` — tuples ``(col, op, value)``,
    ``(col, "between", lo, hi)``, or ``(col, "in", values)`` — against
    the stats sidecar. Returns (files to read, committed files
    considered). The candidates are ``fileset.committed_files``: the
    manifest's files when the table carries one, so on-disk files a
    crashed append never logged stay invisible here as they are to
    Spark's scan. Hive partition subtrees a predicate on their column
    excludes are dropped before listing (so they appear in neither
    count, and the fallback walk never lists them); non-hive dirs and
    unparseable values are kept. Files the sidecar has never seen
    (written after the last stats pass) are always included: skipping
    must stay an optimization, not a correctness bet."""
    path = table_data_dir(path)
    preds = [
        (p[0], "in", [_coerce_bound(v) for v in p[2]])
        if p[1] == "in"
        else (p[0], p[1], *[_coerce_bound(v) for v in p[2:]])
        for p in predicates
    ]

    def descend(name: str) -> bool:
        hv = _hive_dir_value(name)
        return hv is None or _dir_passes(hv[0], hv[1], preds)

    all_files = fileset.committed_files(path, descend)
    stats = _load_sidecar(path)
    if stats is None:
        return all_files, len(all_files)
    known = stats["files"]
    bloom_meta = stats.get("bloom")
    bloom_cache: dict = {}
    keep = [
        rel
        for rel in all_files
        if rel not in known
        or (
            all(_file_matches(known[rel], *p) for p in preds)
            and all(
                _bloom_may_contain(
                    known[rel], bloom_meta, p[0], p[2], bloom_cache
                )
                for p in preds
                if p[1] == "="
            )
            and all(
                any(
                    _bloom_may_contain(
                        known[rel], bloom_meta, p[0], v, bloom_cache
                    )
                    for v in p[2]
                )
                for p in preds
                if p[1] == "in" and p[2]
            )
        )
    ]
    return keep, len(all_files)


def _predicate_column(p: tuple) -> Column:
    col, op = F.col(p[0]), p[1]
    if op == "=":
        return col == F.lit(p[2])
    if op == "<":
        return col < F.lit(p[2])
    if op == "<=":
        return col <= F.lit(p[2])
    if op == ">":
        return col > F.lit(p[2])
    if op == ">=":
        return col >= F.lit(p[2])
    if op == "between":
        return col.between(F.lit(p[2]), F.lit(p[3]))
    if op == "in":
        return col.isin(list(p[2]))
    raise ValueError(f"unsupported skipping predicate op: {op!r}")


def read_skipping(
    spark: SparkSession, path: str, predicates: list[tuple]
) -> DataFrame:
    """Predicate-pruned table read: plan the scan over only the files
    whose stats can satisfy every predicate, then re-apply the full
    predicate row-wise (file pruning is necessary, not sufficient) — so
    the result ALWAYS equals the unpruned ``read + filter``, stats or no
    stats. The planning is ``apply._pruned_table_read``'s, the pruned
    read behind ``read_warehouse(predicates=...)``: the table's schema
    manifest, else the sidecar's recorded schema plus the columns of
    files written after the stats pass, is imposed on the scan instead
    of a ``mergeSchema`` footer union over every selected file (at 100
    TB exactly the O(files) planning cost skipping exists to avoid).
    Tables with neither manifest nor sidecar take ``apply._read_table``."""
    df = _pruned_table_read(spark, path, predicates)
    if df is None:
        df = _read_table(spark, path)
    cond = None
    for p in predicates:
        c = _predicate_column(p)
        cond = c if cond is None else cond & c
    return df if cond is None else df.filter(cond)


def refresh_file_stats(spark: SparkSession, path: str) -> dict | None:
    """Re-collect the stats sidecar for its RECORDED columns; no-op on
    tables without one (a sidecar's presence is the opt-in). Rewrites
    (compaction, merge swaps) write every data file anew, which turns the
    carried sidecar stale — safe (unknown files always read) but
    useless — so the compaction ops call this after their swap, the
    same cadence at which a lakehouse rewrites its stats manifests.
    Merge/append paths deliberately do NOT refresh per micro-batch:
    stats are a maintenance-time product, and the conservative-include
    rule keeps the window between refreshes correct."""
    path = table_data_dir(path)
    prior = _load_sidecar(path)
    if prior is None:
        return None
    out = collect_file_stats(spark, path, prior["columns"])
    bloom = prior.get("bloom")
    if bloom:
        out = collect_file_blooms(
            spark,
            path,
            bloom["columns"],
            num_bits=bloom["m"],
            num_hashes=bloom["k"],
        )
    return out


# ---------------------------------------------------------------------------
# Per-file Bloom filters: point-lookup file pruning.
# ---------------------------------------------------------------------------
#
# Min/max ranges cannot prune an equality probe on an UNCLUSTERED
# high-cardinality column (every file's [min, max] spans the key space,
# so `key = X` keeps all files). A small per-file Bloom filter answers
# "can this file contain X" with no false negatives — the Delta bloom
# index / parquet bloom filter idea, persisted in the same stats sidecar
# so it shares the carry/refresh lifecycle. Build: one column-pruned
# applyInPandas pass per file (Arrow batches, numpy packbits). Probe:
# driver-side bit tests, O(k) per (file, predicate).

_BLOOM_PREFIX = "bloom__"


def _bloom_key(v) -> bytes:
    """Canonical hash key for one value — MUST match between the
    distributed build and the driver-side probe. Ints and strings only
    (the point-lookup domain); floats/dates are range-query territory
    where min/max already works."""
    import numbers

    if isinstance(v, bool) or not isinstance(v, (numbers.Integral, str)):
        raise TypeError(
            f"bloom columns must be integer or string, got {type(v).__name__}"
        )
    return str(v).encode() if not isinstance(v, str) else v.encode()


def _bloom_positions(v, m: int, k: int):
    """k bit positions by double hashing the md5 of the canonical key."""
    import hashlib

    d = hashlib.md5(_bloom_key(v)).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1  # odd: full-period stride
    return [(h1 + i * h2) % m for i in range(k)]


def collect_file_blooms(
    spark: SparkSession,
    path: str,
    columns: list[str],
    num_bits: int = 1 << 15,
    num_hashes: int = 5,
) -> dict:
    """Add per-file Bloom filters for ``columns`` to the stats sidecar
    (creating one if absent). 32 Kbit (4 KB) per file per column holds
    ~3k distinct values at ~1% false-positive rate — size ``num_bits``
    to the expected per-file cardinality. One column-pruned
    applyInPandas pass grouped by file name; Arrow moves only the bloom
    columns, each task emits a packed bitset.

    Lifecycle: entries live inside the ``files`` map, so swaps carry
    them (stale-but-safe) and ``refresh_file_stats`` /
    ``collect_file_stats(incremental=True)`` rebuild or accrete them
    with the min/max entries — with the same conservative rule: a file
    without a bloom entry is never pruned by a bloom probe."""
    import base64

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StringType, StructField

    path = table_data_dir(path)
    df = _read_table(spark, path)
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"bloom columns not in table: {missing}")
    prior = _load_sidecar(path)
    if prior is None:
        head = {"columns": [], "schema": df.schema.json()}
        files = {}
    else:
        import copy

        # _load_sidecar returns the memoized parse — never mutate it;
        # a sharded view materializes (bloom collection is whole-table
        # maintenance by nature)
        head = {
            k: copy.deepcopy(v)
            for k, v in prior.items()
            if k not in ("files", "shards", "version")
        }
        files = prior["files"]
        if isinstance(files, _ShardedFiles):
            files = files._all()
        files = copy.deepcopy(files)
    m, k = num_bits, num_hashes

    out_schema = StructType(
        [StructField("_file", StringType())]
        + [StructField(f"{_BLOOM_PREFIX}{c}", StringType()) for c in columns]
    )

    # integer columns that arrive with the Spark type tell us the pandas
    # float64 we may see is Arrow's null coercion (int64 + NULL -> NaN),
    # not a genuine float column — build() casts those back to int so the
    # bloom key matches the probe side (_bloom_key rejects floats).
    int_cols = {
        f.name
        for f in df.schema.fields
        if f.name in columns
        and f.dataType.typeName() in ("byte", "short", "integer", "long")
    }

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        row = {"_file": [pdf["_file"].iloc[0]]}
        for c in columns:
            bits = np.zeros(m, dtype=bool)
            exact = True
            for v in pdf[c].dropna().unique():
                if isinstance(v, np.integer):
                    v = int(v)
                elif c in int_cols and isinstance(v, (float, np.floating)):
                    # null-coerced int64 (NaN dropped above): the cast
                    # back is only sound while float64 holds the value
                    # exactly — above 2^53 the round-trip rounds, the
                    # bloom would set bits for the WRONG value, and a
                    # probe of the true value would return a FALSE
                    # NEGATIVE (a silently pruned file holding the
                    # row). Emit NO bloom for this (file, column)
                    # instead: absent entries probe conservatively.
                    fv = float(v)
                    if abs(fv) >= 2.0**53 or float(int(fv)) != fv:
                        exact = False
                        break
                    v = int(fv)
                for pos in _bloom_positions(v, m, k):
                    bits[pos] = True
            row[f"{_BLOOM_PREFIX}{c}"] = [
                base64.b64encode(np.packbits(bits).tobytes()).decode()
                if exact
                else None
            ]
        return pd.DataFrame(row)

    rows = (
        df.select(*columns)
        .withColumn("_file", F.input_file_name())
        .groupBy("_file")
        .applyInPandas(build, out_schema)
        .collect()
    )
    root = os.path.abspath(path)
    for r in rows:
        fpath = r["_file"]
        if fpath.startswith("file:"):
            fpath = fpath[len("file:"):]
        rel = os.path.relpath(os.path.abspath(fpath), root)
        entry = files.setdefault(rel, {})
        for c in columns:
            b64 = r[f"{_BLOOM_PREFIX}{c}"]
            if b64 is None:
                # value didn't round-trip float64 exactly: no bloom for
                # this (file, column) — probes include it conservatively
                entry.pop(f"{_BLOOM_PREFIX}{c}", None)
            else:
                entry[f"{_BLOOM_PREFIX}{c}"] = b64
    head["bloom"] = {"columns": columns, "m": m, "k": k}
    return _dump_sidecar(path, head, _parts(files))


def _bloom_may_contain(
    entry: dict, bloom_meta: dict, col: str, v, _cache: dict | None = None
) -> bool:
    """Driver-side probe: False only when the file PROVABLY lacks v.

    Bit tests index the base64-decoded BYTES directly (np.packbits
    layout: bit j of byte i is position i*8 + j, MSB first) — never
    unpacking the whole bitset, and ``_cache`` (keyed by the b64 text)
    amortizes the decode across the files x probe-values loop of one
    prune_files call: an IN-list probe of 500 keys against 1,000 files
    is 500k O(k) bit tests, not 500k megabit unpacks."""
    import base64

    b64 = entry.get(f"{_BLOOM_PREFIX}{col}")
    if b64 is None or not bloom_meta:
        return True  # no bloom for this file/column: conservative
    try:
        positions = _bloom_positions(v, bloom_meta["m"], bloom_meta["k"])
    except TypeError:
        return True  # non-int/string probe value: blooms don't apply
    if _cache is not None and b64 in _cache:
        raw = _cache[b64]
    else:
        raw = base64.b64decode(b64)
        if _cache is not None:
            _cache[b64] = raw
    return all(
        raw[p >> 3] & (0x80 >> (p & 7)) for p in positions
    )
