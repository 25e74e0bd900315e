"""Data-layout operators: Z-order clustering and file-level data skipping.

The reference has no layout management (its warehouse load is
append-only — SURVEY.md §2.2 K5); at 100 TB, file-level clustering is
what turns min/max file statistics into real scan pruning when queries
filter on MORE than one column. A range partition on (a, b) prunes only
on ``a``; interleaving the bits of both columns (a Z-/Morton curve) and
range-partitioning on the interleaved value keeps files tight in BOTH
dimensions, so either predicate skips most files.

``zorder_value`` is pure integer arithmetic (literal shifts, no UDF, no
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

from .apply import table_data_dir


def zorder_value(cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each column (non-negative
    longs — bucket or rank-normalize first) into one Morton key.

    Bit j of column i lands at position j * n_cols + i, built from
    literal shift amounts so the whole expression is a flat codegen
    integer tree. n_cols * bits must stay <= 63.
    """
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a long")
    z = None
    for i, c in enumerate(cols):
        for j in range(bits):
            piece = F.shiftleft(
                F.shiftrightunsigned(c, j).bitwiseAND(F.lit(1)), j * n + i
            )
            z = piece if z is None else z.bitwiseOR(piece)
    return z


def zorder_sql(col_names: list[str], bits: int = 16) -> str:
    """The exact SQL twin of ``zorder_value`` (generated from the same
    loop) — lets an external engine verify the clustering key."""
    n = len(col_names)
    terms = [
        f"((({c} >> {j}) & 1) << {j * n + i})"
        for i, c in enumerate(col_names)
        for j in range(bits)
    ]
    return " | ".join(terms)


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
    z = zorder_value(cols, bits).alias("_z")
    zdf = df.withColumn("_z", z)
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

# Sharded sidecar (format version 2): one monolithic JSON is O(table
# files) of driver parse per cold read and a FULL rewrite per stats
# accretion — at 100 TB (~100k files) that is tens of MB of driver
# work on every maintenance tick, and unbounded under small-file
# pressure. A table whose files span more than one top-level partition
# directory shards the per-file entries by that FIRST path component
# into ``_file_stats.d/<sha1(dir)>.json``; the manifest keeps the
# table-level metadata (columns/schema/bloom config) plus a shard
# index carrying each shard's dir, entry count, and a FILESET HASH of
# its sorted file names. Parquet data files are immutable and
# uniquely named, so an unchanged fileset hash proves a shard's
# entries are current — accretion then neither parses nor rewrites
# it, and ``prune_files`` loads only the shards whose partition
# subtrees survive the directory walk (lazy ``_ShardedFiles`` view;
# every existing consumer keeps plain-dict semantics). This is the
# same decomposition a lakehouse manifest-list makes: one small index
# naming per-partition manifests, stats read per matching manifest.
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
            with open(os.path.join(self._dir, entry[0])) as f:
                doc = json.load(f)
            files = doc.get("files", {})
        except (OSError, json.JSONDecodeError, ValueError):
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
        return sum(n for _f, n in self._by_comp.values())

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


# (path -> ((mtime_ns, size), parsed dict)) — one hot read_changes tick
# consults the sidecar several times (canonicality guard, selectivity
# gate, two pruned reads); _dump_sidecar replaces the file atomically
# (new inode, new mtime), so (mtime_ns, size) is a sound freshness key
# and the multi-MB json.loads runs once per sidecar version, not per
# consultation.
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
    try:
        st = os.stat(sidecar)
    except OSError:
        _SIDECAR_CACHE.pop(path, None)
        return None
    key = (st.st_mtime_ns, st.st_size)
    hit = _SIDECAR_CACHE.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    try:
        with open(sidecar) as f:
            parsed = json.load(f)
    except (json.JSONDecodeError, OSError):
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
    _SIDECAR_CACHE[path] = (key, parsed)
    return parsed


def _dump_sidecar(path: str, payload: dict) -> None:
    """Persist the stats sidecar, sharding the per-file entries by
    top-level partition dir whenever they span more than one (see the
    STATS_SHARD_DIR comment). Shards whose content is unchanged vs the
    prior sidecar are NOT rewritten — an accretion that touched one
    partition rewrites one shard plus the small manifest. Every write
    is atomic (fsio seam), and the manifest is always replaced LAST so
    its (mtime, size) freshness key covers every shard it names."""
    from .. import fsio

    path = table_data_dir(path)
    manifest = os.path.join(path, FILE_STATS_SIDECAR)
    shard_dir = os.path.join(path, STATS_SHARD_DIR)
    files = payload.get("files", {})
    if isinstance(files, _ShardedFiles):
        files = files._all()
    by_comp: dict[str, dict] = {}
    for rel, entry in files.items():
        by_comp.setdefault(_shard_component(rel), {})[rel] = entry

    if len(by_comp) <= 1:
        doc = {k: v for k, v in payload.items() if k != "shards"}
        doc["files"] = files
        doc["version"] = _STATS_VERSION
        fsio.atomic_write_text(manifest, json.dumps(doc))
        # a format downgrade (e.g. a flat rewrite of a once-partitioned
        # table) must not strand stale shard files; cleanup failures
        # (an unexpected subdir, permissions) must not fail the dump —
        # the flat sidecar above is already written and correct
        try:
            for name in fsio.listdir(shard_dir):
                fsio.remove(os.path.join(shard_dir, name))
            os.rmdir(shard_dir)
        except OSError:
            pass
        return

    prior = _load_sidecar(path)
    prior_view = prior.get("files") if prior else None
    index: dict[str, dict] = {}
    writes: dict[str, dict] = {}
    for comp, fmap in sorted(by_comp.items()):
        fname = _shard_fname(comp)
        index[fname] = {
            "dir": comp,
            "n": len(fmap),
            "fh": _fileset_hash(fmap.keys()),
        }
        if isinstance(prior_view, _ShardedFiles):
            if prior_view._load(comp) == fmap:
                continue  # byte-equal shard: no rewrite
        writes[fname] = fmap
    head = {
        k: v
        for k, v in payload.items()
        if k not in ("files", "shards", "version")
    }
    _persist_sharded(path, index, writes, head)


def _persist_sharded(
    path: str, index: dict, writes: dict, head: dict
) -> None:
    """The ONE writer of the sharded sidecar format — both the full
    dump and the incremental accretion delegate here so the format's
    correctness invariant cannot drift between them: changed shards
    are written first (atomic each), shards the index no longer names
    are swept, and the manifest is replaced LAST, so its (mtime, size)
    freshness key always covers every shard it names."""
    from .. import fsio

    shard_dir = os.path.join(path, STATS_SHARD_DIR)
    fsio.makedirs(shard_dir)
    for fname, fmap in writes.items():
        fsio.atomic_write_text(
            os.path.join(shard_dir, fname), json.dumps({"files": fmap})
        )
    for name in fsio.listdir(shard_dir):
        if name not in index:
            fsio.remove(os.path.join(shard_dir, name))
    doc = dict(head)
    doc["version"] = _STATS_VERSION_SHARDED
    doc["shards"] = index
    fsio.atomic_write_text(
        os.path.join(path, FILE_STATS_SIDECAR), json.dumps(doc)
    )


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
    re-applies the full predicate to every row it reads).

    This is the maintenance-time twin of what a lakehouse writer stamps
    into its log at commit time; on plain parquet the stats pass reads
    ONLY the stat columns (column pruning makes it a footer+column
    scan, not a table scan). File keys are stored relative to the table
    root so the sidecar survives a directory move.

    ``incremental=True`` scans only the files the sidecar has never
    seen and drops entries for vanished ones — O(new files), not
    O(table): after a streaming append tick, refreshing stats costs
    the new files' footers, exactly how a lakehouse log accretes
    per-commit stats. Falls back to the full pass when there is no
    sidecar or its column set differs. (After a compaction/OPTIMIZE
    rewrite, every file is new, so incremental degenerates to the full
    pass by itself.)

    Scale: the aggregate is one shuffle keyed by file name — O(files
    scanned) result rows collected to the driver, the same order of
    driver state every lakehouse keeps per snapshot.
    """
    path = table_data_dir(path)
    existing = _load_sidecar(path)
    bloom_meta = existing.get("bloom") if existing else None
    prior = existing if incremental else None
    if prior is not None and prior.get("columns") != columns:
        prior = None  # column set changed: full re-collect

    if prior is not None and isinstance(prior.get("files"), _ShardedFiles):
        # sharded accretion: shards whose on-disk fileset hash matches
        # the manifest are provably current (data files are immutable
        # and uniquely named) — neither parsed nor rewritten; only
        # changed partition subtrees pay I/O. Falls through to the
        # full pass on a cross-file schema conflict.
        out = _collect_sharded_incremental(spark, path, columns, prior)
        if out is not None:
            return out
        prior = None

    if prior is not None:
        on_disk = set(_list_data_files(path))
        kept = {
            rel: st for rel, st in prior["files"].items() if rel in on_disk
        }
        new_rel = sorted(on_disk - set(kept))
        schema_json = prior["schema"]
        if new_rel:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(schema_json))
            new_paths = [os.path.join(path, r) for r in new_rel]
            # Schema evolution guard: a mid-stream evolving append writes
            # files whose footers carry columns the recorded schema lacks;
            # carrying the stale schema forever would make read_skipping
            # (which imposes the sidecar schema instead of mergeSchema)
            # silently drop the evolved column. Footer-merge ONLY the new
            # files (O(new files), the incremental contract) and union any
            # new fields into the record; a same-name type conflict falls
            # back to the full pass, which re-derives the table's own
            # merged schema.
            new_schema = (
                spark.read.option("mergeSchema", "true")
                .option("basePath", path)
                .parquet(*new_paths)
                .schema
            )
            recorded_types = {f.name: f.dataType for f in schema.fields}
            conflict = any(
                f.name in recorded_types
                and f.dataType != recorded_types[f.name]
                for f in new_schema.fields
            )
            if conflict:
                prior = None
            else:
                added = [
                    f for f in new_schema.fields
                    if f.name not in recorded_types
                ]
                if added:
                    schema = StructType(list(schema.fields) + added)
                    schema_json = schema.json()
                sub = (
                    spark.read.schema(schema)
                    .option("basePath", path)
                    .parquet(*new_paths)
                )
                kept.update(_stat_files(spark, path, columns, sub))
        if prior is not None:
            payload = {
                "version": _STATS_VERSION,
                "columns": columns,
                "schema": schema_json,
                "files": kept,
            }
    if prior is None:
        df = spark.read.option("mergeSchema", "true").parquet(path)
        missing = [c for c in columns if c not in df.columns]
        if missing:
            raise ValueError(f"stats columns not in table: {missing}")
        payload = {
            "version": _STATS_VERSION,
            "columns": columns,
            "schema": df.schema.json(),
            "files": _stat_files(spark, path, columns, df),
        }
    if bloom_meta:
        # keep the bloom configuration through min/max refreshes; files
        # whose bloom entry was dropped by a full rebuild probe
        # conservatively until collect_file_blooms re-stamps them
        # (refresh_file_stats chains the two)
        payload["bloom"] = bloom_meta
    _dump_sidecar(path, payload)
    return payload


def _collect_sharded_incremental(
    spark: SparkSession, path: str, columns: list[str], prior: dict
) -> dict | None:
    """Accrete a SHARDED stats sidecar: per top-level partition dir,
    compare the on-disk fileset hash against the manifest — matching
    shards carry over untouched (no parse, no rewrite); changed ones
    keep entries for surviving files and stat only the new ones (one
    batched column-pruned job across all changed shards). Returns the
    fresh sidecar, or None on a cross-file schema conflict (the caller
    then runs the full pass, which owns conflict reconciliation)."""
    view: _ShardedFiles = prior["files"]
    by_comp_disk: dict[str, list[str]] = {}
    for rel in _list_data_files(path):
        by_comp_disk.setdefault(_shard_component(rel), []).append(rel)

    index: dict[str, dict] = {}
    pending: list[tuple[str, dict, list[str]]] = []
    new_all: list[str] = []
    for comp, rels in sorted(by_comp_disk.items()):
        fname = _shard_fname(comp)
        fh = _fileset_hash(rels)
        meta = view._by_comp.get(comp)
        if meta is not None and meta[2] == fh:
            index[fname] = {"dir": comp, "n": len(rels), "fh": fh}
            continue  # untouched subtree: carried by reference
        entries = view._load(comp)
        kept = {r: entries[r] for r in rels if r in entries}
        new = [r for r in rels if r not in entries]
        pending.append((comp, kept, new))
        new_all += new

    schema_json = prior["schema"]
    stats_new: dict = {}
    if new_all:
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(schema_json))
        new_paths = [os.path.join(path, r) for r in new_all]
        # same evolution guard as the monolith accretion: footer-merge
        # ONLY the new files; union new fields; conflict -> full pass
        new_schema = (
            spark.read.option("mergeSchema", "true")
            .option("basePath", path)
            .parquet(*new_paths)
            .schema
        )
        recorded_types = {f.name: f.dataType for f in schema.fields}
        if any(
            f.name in recorded_types and f.dataType != recorded_types[f.name]
            for f in new_schema.fields
        ):
            return None
        added = [
            f for f in new_schema.fields if f.name not in recorded_types
        ]
        if added:
            schema = StructType(list(schema.fields) + added)
            schema_json = schema.json()
        sub = (
            spark.read.schema(schema)
            .option("basePath", path)
            .parquet(*new_paths)
        )
        stats_new = _stat_files(spark, path, columns, sub)

    writes: dict[str, dict] = {}
    for comp, kept, new in pending:
        fmap = dict(kept)
        for r in new:
            if r in stats_new:
                fmap[r] = stats_new[r]
        fname = _shard_fname(comp)
        index[fname] = {
            "dir": comp,
            "n": len(fmap),
            "fh": _fileset_hash(by_comp_disk[comp]),
        }
        writes[fname] = fmap
    head = {"columns": columns, "schema": schema_json}
    if prior.get("bloom"):
        head["bloom"] = prior["bloom"]
    _persist_sharded(path, index, writes, head)
    return _load_sidecar(path)


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


def _list_data_files(path: str, preds: list[tuple] | None = None) -> list[str]:
    """Every .parquet data file under the table root, relative paths.
    With ``preds``, hive partition subtrees whose 'col=value' can never
    satisfy a predicate on that column are skipped WITHOUT being walked
    — on an object store the listing itself is O(matching partitions),
    the same lever ``apply._touched_partition_dirs`` gives the merge.
    Non-hive dirs and unparseable values always descend — EXCEPT
    version-named dirs (``apply._is_version_name``): under a
    pointer-less root those are an aborted commit's staging, and
    walking into one would feed uncommitted rows into pruned reads and
    advance the feed-tip probe past seqs that were never committed.
    Hidden (``_``/``.``-prefixed) dirs are skipped like Spark's own
    listing skips them (a crashed append's staging dir must not leak
    uncommitted files into pruned reads).

    When the directory carries a fileset manifest
    (``operators/fileset.py``), the committed fileset comes from the
    manifest — O(retained log batches) small reads, ZERO storage calls
    per data file — and stays consistent with what Spark's own
    manifest-planned scan of the dir reads: on-disk files absent from
    the manifest (crashed append attempts) are invisible to both. The
    walk below is the legacy/no-manifest fallback."""
    from .apply import _is_version_name
    from . import fileset

    path = table_data_dir(path)
    logged = fileset.read_fileset(path)
    if logged is not None:
        if not preds:
            return list(logged)
        keep = []
        for rel in logged:
            ok = True
            for comp in rel.split(os.sep)[:-1]:
                hv = _hive_dir_value(comp)
                if hv is not None and not _dir_passes(hv[0], hv[1], preds):
                    ok = False
                    break
            if ok:
                keep.append(rel)
        return keep
    out = []
    for cur, dirs, names in os.walk(path):
        dirs[:] = [
            d
            for d in dirs
            if not _is_version_name(d) and not d.startswith(("_", "."))
        ]
        if preds:
            kept_dirs = []
            for d in dirs:
                hv = _hive_dir_value(d)
                if hv is not None and not _dir_passes(hv[0], hv[1], preds):
                    continue
                kept_dirs.append(d)
            dirs[:] = kept_dirs  # in-place: os.walk honors the pruning
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                out.append(
                    os.path.relpath(os.path.join(cur, n), os.path.abspath(path))
                )
    return out


def prune_files(path: str, predicates: list[tuple]) -> tuple[list[str], int]:
    """Resolve the AND of ``predicates`` — tuples ``(col, op, value)``,
    ``(col, "between", lo, hi)``, or ``(col, "in", values)`` — against
    the stats sidecar. Returns (files to read, data files LISTED):
    hive partition subtrees a predicate on their column excludes are
    skipped before listing (so they appear in neither count — the
    listing itself is O(matching partitions)), and files the sidecar
    has never seen (written after the last stats pass) are always
    included: skipping must stay an optimization, not a correctness
    bet."""
    path = table_data_dir(path)
    preds = [
        (p[0], "in", [_coerce_bound(v) for v in p[2]])
        if p[1] == "in"
        else (p[0], p[1], *[_coerce_bound(v) for v in p[2:]])
        for p in predicates
    ]
    all_files = _list_data_files(path, preds)
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
    whose min/max range can satisfy every predicate, then re-apply the
    full predicate row-wise (file pruning is necessary, not sufficient)
    — so the result ALWAYS equals the unpruned ``read + filter``, stats
    or no stats. ``basePath`` keeps hive partition columns visible on
    the file-scoped read. An empty survivor set returns an empty frame
    on the sidecar's recorded schema without touching the table.

    The sidecar's recorded schema is imposed on the scan instead of
    ``mergeSchema``: merging unions EVERY selected file's footer in a
    driver-side job before the scan — at 100 TB exactly the O(files)
    planning cost skipping exists to avoid. Refresh stats after a
    schema-evolving write (the conservative-include rule already covers
    files newer than the sidecar)."""
    path = table_data_dir(path)
    keep, _total = prune_files(path, predicates)
    cond = None
    for p in predicates:
        c = _predicate_column(p)
        cond = c if cond is None else cond & c

    def _read_schema():
        # prefer the table's write-time manifest (updated per write by
        # the engine's apply/maintenance paths) over the schema the
        # STATS pass recorded (refreshed only at stats cadence): after
        # a schema-evolving append the manifest is current immediately,
        # closing the staleness window between stats refreshes.
        from .apply import read_table_schema

        manifest = read_table_schema(path)
        if manifest is not None:
            return manifest
        stats = _load_sidecar(path)
        if stats is None:
            return None
        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(stats["schema"]))

    schema = _read_schema()
    if not keep:
        if schema is not None:
            return spark.createDataFrame([], schema)
        df = spark.read.parquet(path)
        return df.filter(F.lit(False)) if cond is None else df.filter(cond)
    reader = spark.read.option("basePath", path)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(*[os.path.join(path, rel) for rel in keep])
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
    from pyspark.sql.types import StringType, StructField, StructType

    path = table_data_dir(path)
    payload = _load_sidecar(path)
    if payload is not None:
        import copy

        # _load_sidecar returns the memoized parse — never mutate it;
        # a sharded view materializes (bloom collection is whole-table
        # maintenance by nature)
        files = payload.get("files", {})
        if isinstance(files, _ShardedFiles):
            files = files._all()
        payload = {
            k: copy.deepcopy(v)
            for k, v in payload.items()
            if k not in ("files", "shards")
        }
        payload["files"] = copy.deepcopy(files)
    if payload is None:
        df0 = spark.read.option("mergeSchema", "true").parquet(path)
        payload = {
            "version": _STATS_VERSION,
            "columns": [],
            "schema": df0.schema.json(),
            "files": {},
        }

    df = spark.read.option("mergeSchema", "true").parquet(path)
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"bloom columns not in table: {missing}")
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
        entry = payload["files"].setdefault(rel, {})
        for c in columns:
            b64 = r[f"{_BLOOM_PREFIX}{c}"]
            if b64 is None:
                # value didn't round-trip float64 exactly: no bloom for
                # this (file, column) — probes include it conservatively
                entry.pop(f"{_BLOOM_PREFIX}{c}", None)
            else:
                entry[f"{_BLOOM_PREFIX}{c}"] = b64
    payload["bloom"] = {"columns": columns, "m": m, "k": k}
    _dump_sidecar(path, payload)
    return payload


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
