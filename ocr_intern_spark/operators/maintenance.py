"""Table-maintenance planning operators (Iceberg-style metadata ops).

The north-rule deployment target is an Iceberg table of 10^12
interleaved documents; keeping such a table healthy is a first-class
pipeline job: streaming ingest + MERGE INTO resume leave a long tail
of small data files that degrade scan planning, so a compaction
planner periodically bins undersized files into rewrite groups
(Iceberg's `rewrite_data_files` binpack strategy).

Everything here is METADATA-plane work: at 100 TB the inputs are the
manifest file listing (~10^6-10^7 rows, one per data file), never the
data itself — so a per-partition window over the file list is the
correct scale shape. For the driver's correctness gate the "file
listing" is synthesized deterministically from the documents table
(file_id = doc_id, partition = source, size = n_chars), which gives
the planner a realistic skewed size distribution without external
data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_intern_spark.sources.tables import cents, cents_sql, table

# Iceberg rewrite_data_files-style knobs: target rewrite group size,
# and the small-file admission cut (files >= SMALL_CUT are already
# "big enough" and left alone — Iceberg's min-file-size-bytes).
TARGET_BYTES = 4096
SMALL_CUT = 3072  # 0.75 * TARGET_BYTES


def _files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized manifest listing: one row per data file."""
    return table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("file_id"),
        F.col("source").alias("part"),
        F.col("n_chars").cast("long").alias("size_bytes"),
    )


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: within each table partition, admit
    files under SMALL_CUT bytes, order them largest-first (first-fit-
    decreasing's sort), and cut rewrite groups by cumulative quota —
    group = ceil(running_bytes / TARGET_BYTES). Groups that end up
    with a single file are dropped (rewriting one file alone buys
    nothing — Iceberg's min-input-files=2 default). Emits one plan
    row per rewrite group with its byte/file totals.

    Scale shape: ONE window partitioned by the table partition over
    the manifest listing — file-count scale (metadata), not data
    scale. No join, no global sort; the per-partition ordering is
    exactly what a driver-side planner would do, pushed down to
    executors. The quota cut makes every group's size land in
    [TARGET - max_small, TARGET + max_small), the binpack contract."""
    f = _files(spark, sf_dir).where(F.col("size_bytes") < SMALL_CUT)
    w = (
        Window.partitionBy("part")
        .orderBy(F.desc("size_bytes"), F.asc("file_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = f.select(
        "part",
        "file_id",
        "size_bytes",
        F.ceil(F.sum("size_bytes").over(w) / F.lit(TARGET_BYTES))
        .cast("long")
        .alias("group_id"),
    )
    return (
        grouped.groupBy("part", "group_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("size_bytes").cast("long").alias("group_bytes"),
            F.min("size_bytes").cast("long").alias("min_file_bytes"),
            F.max("size_bytes").cast("long").alias("max_file_bytes"),
        )
        .where(F.col("n_files") >= 2)
        .orderBy("part", "group_id")
    )


_COMPACTION_SQL = f"""
WITH small AS (
  SELECT source AS part, doc_id AS file_id, CAST(n_chars AS BIGINT) AS size_bytes
  FROM documents WHERE n_chars < {SMALL_CUT}
),
grouped AS (
  SELECT part, file_id, size_bytes,
         CAST(ceil(sum(size_bytes) OVER (
             PARTITION BY part ORDER BY size_bytes DESC, file_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) / {TARGET_BYTES}.0) AS BIGINT) AS group_id
  FROM small
)
SELECT part, group_id,
       count(*) AS n_files,
       CAST(sum(size_bytes) AS BIGINT) AS group_bytes,
       CAST(min(size_bytes) AS BIGINT) AS min_file_bytes,
       CAST(max(size_bytes) AS BIGINT) AS max_file_bytes
FROM grouped
GROUP BY part, group_id
HAVING count(*) >= 2
ORDER BY part, group_id
"""


# --- zone-map pruning advisor ------------------------------------------------

FILE_ROWS = 100  # rows per synthesized data file


def q_zonemap_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (file min/max statistics) pruning effectiveness under
    two physical layouts — the sort-layout advisor every Iceberg/
    Parquet deployment runs before paying for a rewrite: cut the
    orders table into FILE_ROWS-row files once in INSERTION order
    (by o_orderkey — dates scattered across every file) and once in
    DATE-SORTED order, compute each file's (min, max) o_orderdate
    zone map, and for each order-year predicate count how many files
    a min/max-overlap scan planner would actually read. The delta
    between the two layouts IS the business case for the sort
    rewrite.

    File assignment uses the distributed two-pass global rank
    (skew.global_rank — range partition + per-partition prefix
    offsets), NEVER an unpartitioned row_number window: at 10^12
    rows the layout simulation must itself scale. At real scale the
    zone maps come straight from the manifest (this query's
    simulation layer exists because the sandbox has no real file
    metadata); the advisor aggregate over (layout, file, year) is
    metadata-plane work either way.

    All outputs are integers; hit rule is the standard half-open
    overlap test min < year_end AND max >= year_start."""
    from ocr_intern_spark.operators.skew import global_rank

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").alias("d")
    )
    layouts = []
    for name, order in (
        ("insertion", [F.asc("o_orderkey")]),
        ("date_sorted", [F.asc("d"), F.asc("o_orderkey")]),
    ):
        ranked = global_rank(o, *order, rank_name="rk")
        layouts.append(
            ranked.select(
                F.lit(name).alias("layout"),
                F.floor((F.col("rk") - 1) / FILE_ROWS).cast("long").alias(
                    "file_id"
                ),
                "d",
            )
        )
    files = (
        layouts[0]
        .unionByName(layouts[1])
        .groupBy("layout", "file_id")
        .agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    )
    years = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(F.lit(1995), F.lit(2001))
            ).alias("yr")
        )
        .select(
            "yr",
            F.to_timestamp(F.concat(F.col("yr"), F.lit("-01-01"))).alias(
                "y0"
            ),
            F.to_timestamp(
                F.concat(F.col("yr") + 1, F.lit("-01-01"))
            ).alias("y1"),
        )
    )
    hit = (
        files.crossJoin(F.broadcast(years))
        .groupBy("layout", "yr")
        .agg(
            F.count("*").alias("n_files"),
            F.sum(
                F.when(
                    (F.col("mn") < F.col("y1")) & (F.col("mx") >= F.col("y0")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_hit"),
        )
    )
    return hit.select(
        "layout", F.col("yr").cast("long").alias("yr"), "n_files", "n_hit"
    ).orderBy("layout", "yr")


_ZONEMAP_SQL = f"""
WITH ins AS (
  SELECT (row_number() OVER (ORDER BY o_orderkey) - 1) // {FILE_ROWS}
           AS file_id,
         o_orderdate AS d
  FROM orders
),
srt AS (
  SELECT (row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1)
           // {FILE_ROWS} AS file_id,
         o_orderdate AS d
  FROM orders
),
files AS (
  SELECT 'insertion' AS layout, file_id, min(d) AS mn, max(d) AS mx
  FROM ins GROUP BY file_id
  UNION ALL
  SELECT 'date_sorted', file_id, min(d), max(d) FROM srt GROUP BY file_id
),
years AS (
  SELECT yr,
         CAST(yr || '-01-01' AS TIMESTAMP) AS y0,
         CAST((yr + 1) || '-01-01' AS TIMESTAMP) AS y1
  FROM (SELECT unnest(range(1995, 2002)) AS yr)
)
SELECT layout, CAST(yr AS BIGINT) AS yr,
       count(*) AS n_files,
       CAST(sum(CASE WHEN mn < y1 AND mx >= y0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit
FROM files, years
GROUP BY layout, yr
ORDER BY layout, yr
"""


# --- partition skew report -----------------------------------------------------


def q_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-health report over the table's partition column —
    the metadata view that decides WHEN the skew machinery (salting,
    AQE skew splits) is needed: per partition, file and byte totals
    plus the byte share versus a uniform layout in integer parts-per-
    million (share_ppm = bytes·10⁶ div total; uniform would put every
    partition at 10⁶ div n_partitions). A partition whose skew_ppm —
    share minus uniform — is strongly positive is the hot shard every
    downstream keyed operation inherits.

    Scale shape: one manifest-listing aggregate (metadata-plane, like
    the compaction planner) + a 1-row total broadcast; all integer
    arithmetic."""
    f = _files(spark, sf_dir)
    per = f.groupBy("part").agg(
        F.count("*").alias("n_files"),
        F.sum("size_bytes").cast("long").alias("part_bytes"),
    )
    tot = per.agg(
        F.sum("part_bytes").cast("long").alias("total_bytes"),
        F.count("*").alias("n_parts"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "part",
            "n_files",
            "part_bytes",
            F.expr("part_bytes * 1000000 div total_bytes").alias(
                "share_ppm"
            ),
            F.expr(
                "part_bytes * 1000000 div total_bytes"
                " - 1000000 div n_parts"
            ).alias("skew_ppm"),
        )
        .orderBy("part")
    )


_PARTITION_SKEW_SQL = """
WITH per AS (
  SELECT source AS part, count(*) AS n_files,
         CAST(sum(n_chars) AS BIGINT) AS part_bytes
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(part_bytes) AS BIGINT) AS total_bytes,
         count(*) AS n_parts
  FROM per
)
SELECT part, n_files, part_bytes,
       CAST(part_bytes * 1000000 // total_bytes AS BIGINT) AS share_ppm,
       CAST(part_bytes * 1000000 // total_bytes
            - 1000000 // n_parts AS BIGINT) AS skew_ppm
FROM per CROSS JOIN tot
ORDER BY part
"""


# --- snapshot-expiry planner --------------------------------------------------

RETAIN_LAST = 5    # Iceberg expire_snapshots retain-last: newest N always kept
MAX_AGE_DAYS = 14  # ...and anything younger than this vs the newest snapshot


def _t_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events")


def q_snapshot_expiry_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-expiry plan (Iceberg `expire_snapshots` semantics):
    keep the newest RETAIN_LAST snapshots plus any snapshot younger
    than MAX_AGE_DAYS relative to the table's newest snapshot; expire
    the rest, reporting the running reclaimable bytes over the expired
    prefix in commit order. The snapshot log is synthesized
    deterministically from the events table (one snapshot per ingest
    day; files = that day's events, bytes = that day's value-cents) —
    a realistic commit cadence without external data.

    Scale shape: METADATA-plane — the input is one row per snapshot
    (a table's snapshot log is 10^3-10^5 rows at any data scale), so
    the two unpartitioned windows below rank a bounded frame, never
    the data. Byte totals are emitted as canonical digit strings (the
    dsir lesson: cross-engine >9-significant-digit rendering)."""
    snaps = (
        _t_events(spark, sf_dir)
        .groupBy(F.to_date("ts").alias("snap_day"))
        .agg(
            F.count("*").alias("n_files"),
            F.sum(cents(F.col("value"))).alias("_bytes"),
        )
    )
    # bounded-window: frame = the snapshot log (one row per ingest day)
    w_new = Window.orderBy(F.desc("snap_day"))
    ranked = snaps.select(
        "snap_day",
        "n_files",
        "_bytes",
        F.row_number().over(w_new).cast("int").alias("recency_rank"),
        F.datediff(F.max("snap_day").over(w_new.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )), F.col("snap_day")).cast("int").alias("age_days"),
    )
    expire = (F.col("recency_rank") > RETAIN_LAST) & (
        F.col("age_days") > MAX_AGE_DAYS
    )
    # bounded-window: running reclaim over the same snapshot-log frame
    w_old = Window.orderBy(F.asc("snap_day")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = ranked.select(
        "snap_day",
        "n_files",
        "recency_rank",
        "age_days",
        expire.alias("expire"),
        F.when(expire, F.col("_bytes")).otherwise(F.lit(0)).alias("_rec"),
        F.col("_bytes").cast("string").alias("bytes_added"),
    )
    return flagged.select(
        F.col("snap_day").cast("string").alias("snap_day"),
        "n_files",
        "bytes_added",
        "recency_rank",
        "age_days",
        "expire",
        F.sum("_rec").over(w_old).cast("string").alias("reclaim_cum"),
    ).orderBy("snap_day")


_SNAPSHOT_EXPIRY_SQL = f"""
WITH snaps AS (
  SELECT CAST(ts AS DATE) AS snap_day, count(*) AS n_files,
         sum({cents_sql("value")}) AS _bytes
  FROM events GROUP BY 1
),
ranked AS (
  SELECT snap_day, n_files, _bytes,
         CAST(row_number() OVER (ORDER BY snap_day DESC) AS INT)
           AS recency_rank,
         CAST(date_diff('day', snap_day, max(snap_day) OVER ()) AS INT)
           AS age_days
  FROM snaps
),
flagged AS (
  SELECT *,
         (recency_rank > {RETAIN_LAST} AND age_days > {MAX_AGE_DAYS})
           AS expire
  FROM ranked
)
SELECT CAST(snap_day AS VARCHAR) AS snap_day, n_files,
       CAST(_bytes AS VARCHAR) AS bytes_added, recency_rank, age_days,
       expire,
       CAST(sum(CASE WHEN expire THEN _bytes ELSE 0 END) OVER (
           ORDER BY snap_day ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS VARCHAR) AS reclaim_cum
FROM flagged
ORDER BY snap_day
"""


# --- ANALYZE-style column statistics -------------------------------------------


def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-style per-column statistics for the events table
    — the cost-based-optimizer input view (rows, nulls, exact NDV,
    canonical min/max, milli-average byte length). One row per column,
    every metric emitted in a cross-engine-canonical form: ids and
    epoch-micros as digit strings, doubles as floor-cents digit
    strings, strings raw (both engines compare VARCHAR with binary
    collation).

    Scale shape: ONE pass over the table — the multi-distinct
    aggregate compiles to Catalyst's Expand (k× row multiplication
    inside the map task, k = distinct-counted columns) feeding a
    single hash-aggregate exchange; per-column rows come from
    unpivoting the 1-row aggregate, never from k scans. At 100 TB
    you'd swap exact NDV for approx_count_distinct and keep the same
    single-pass shape (the sketch-accuracy contract is pinned by
    events_sketch_accuracy)."""
    e = _t_events(spark, sf_dir)
    epoch = F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")

    def us(c):  # NTZ → exact integer microseconds, zone-free
        return ((c - epoch).cast("decimal(20,6)") * 1_000_000).cast(
            "long"
        ).cast("string")

    agg = e.agg(
        F.count("*").alias("n_rows"),
        # event_id
        F.count("event_id").alias("id_nn"),
        F.countDistinct("event_id").alias("id_nd"),
        F.min("event_id").cast("string").alias("id_min"),
        F.max("event_id").cast("string").alias("id_max"),
        # ts
        F.count("ts").alias("ts_nn"),
        F.countDistinct("ts").alias("ts_nd"),
        us(F.min("ts")).alias("ts_min"),
        us(F.max("ts")).alias("ts_max"),
        # user_id
        F.count("user_id").alias("uid_nn"),
        F.countDistinct("user_id").alias("uid_nd"),
        F.min("user_id").cast("string").alias("uid_min"),
        F.max("user_id").cast("string").alias("uid_max"),
        # event_type
        F.count("event_type").alias("et_nn"),
        F.countDistinct("event_type").alias("et_nd"),
        F.min("event_type").alias("et_min"),
        F.max("event_type").alias("et_max"),
        # integer DIV on both engines — double-divide-then-cast rounds
        # in DuckDB but truncates in Spark (the session-8 trap)
        F.expr(
            "CAST((sum(length(event_type)) * 1000) DIV count(event_type)"
            " AS BIGINT)"
        ).alias("et_len_milli"),
        # value (floor-cents canonical form)
        F.count("value").alias("v_nn"),
        F.countDistinct("value").alias("v_nd"),
        cents(F.min("value")).cast("string").alias("v_min"),
        cents(F.max("value")).cast("string").alias("v_max"),
        # props
        F.count("props").alias("p_nn"),
        F.countDistinct("props").alias("p_nd"),
        F.min("props").alias("p_min"),
        F.max("props").alias("p_max"),
        F.expr(
            "CAST((sum(length(props)) * 1000) DIV count(props) AS BIGINT)"
        ).alias("p_len_milli"),
    )
    row = agg.select(
        F.expr(
            "stack(6, "
            "'event_id',  id_nn,  id_nd,  id_min,  id_max,  CAST(NULL AS BIGINT), "
            "'ts',        ts_nn,  ts_nd,  ts_min,  ts_max,  CAST(NULL AS BIGINT), "
            "'user_id',   uid_nn, uid_nd, uid_min, uid_max, CAST(NULL AS BIGINT), "
            "'event_type',et_nn,  et_nd,  et_min,  et_max,  et_len_milli, "
            "'value',     v_nn,   v_nd,   v_min,   v_max,   CAST(NULL AS BIGINT), "
            "'props',     p_nn,   p_nd,   p_min,   p_max,   p_len_milli"
            ") AS (column_name, n_notnull, n_distinct, min_val, max_val, avg_len_milli)"
        ),
        F.col("n_rows"),
    )
    return row.select(
        "column_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_notnull")).cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_val",
        "max_val",
        "avg_len_milli",
    ).orderBy("column_name")


_COLUMN_STATS_SQL = f"""
WITH n AS (SELECT count(*) AS n_rows FROM events)
SELECT 'event_id' AS column_name, n_rows,
       n_rows - count(event_id) AS n_null,
       count(DISTINCT event_id) AS n_distinct,
       CAST(min(event_id) AS VARCHAR) AS min_val,
       CAST(max(event_id) AS VARCHAR) AS max_val,
       CAST(NULL AS BIGINT) AS avg_len_milli
FROM events, n GROUP BY n_rows
UNION ALL
SELECT 'ts', n_rows, n_rows - count(ts), count(DISTINCT ts),
       CAST(epoch_us(min(ts)) AS VARCHAR),
       CAST(epoch_us(max(ts)) AS VARCHAR), CAST(NULL AS BIGINT)
FROM events, n GROUP BY n_rows
UNION ALL
SELECT 'user_id', n_rows, n_rows - count(user_id),
       count(DISTINCT user_id),
       CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR),
       CAST(NULL AS BIGINT)
FROM events, n GROUP BY n_rows
UNION ALL
SELECT 'event_type', n_rows, n_rows - count(event_type),
       count(DISTINCT event_type), min(event_type), max(event_type),
       CAST((sum(length(event_type)) * 1000) // count(event_type) AS BIGINT)
FROM events, n GROUP BY n_rows
UNION ALL
SELECT 'value', n_rows, n_rows - count(value), count(DISTINCT value),
       CAST({cents_sql("min(value)")} AS VARCHAR),
       CAST({cents_sql("max(value)")} AS VARCHAR),
       CAST(NULL AS BIGINT)
FROM events, n GROUP BY n_rows
UNION ALL
SELECT 'props', n_rows, n_rows - count(props), count(DISTINCT props),
       min(props), max(props),
       CAST((sum(length(props)) * 1000) // count(props) AS BIGINT)
FROM events, n GROUP BY n_rows
ORDER BY column_name
"""


SHARD_BYTES = 65536   # target training-shard payload
MEDIA_EST_BASE = 4096  # per-doc media payload estimate (deterministic)


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style SHARD PACKING manifest: assign every document
    (text bytes + its media payload estimate) to a training shard by
    sequential cut — shard_id = floor(exclusive-prefix-bytes /
    SHARD_BYTES) in doc_id order — and emit one manifest row per
    shard (doc count, payload bytes, id range). This is the layout
    job that turns a curated corpus into the shard files a dataloader
    streams; the id-ordered sequential cut keeps shards reproducible
    and restartable (a re-run assigns identical shards).

    The prefix is skew.global_prefix_sum — the range-partitioned
    two-pass scan primitive — so NO single-reducer window touches the
    corpus; the manifest aggregate groups the 8-byte shard_id. At
    10^12 docs this is exactly the TeraSort-shaped pass the CCNet
    bucketing already runs, plus one bounded aggregate; the oracle is
    the textbook single-window SQL, so hash equality certifies the
    decomposition (the global_rank proof shape, applied to sums)."""
    from ocr_intern_spark.operators.skew import global_prefix_sum

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.col("n_chars").cast("long")
            + F.lit(MEDIA_EST_BASE)
            + F.col("doc_id") % 1024
        ).alias("bytes"),
    )
    p = global_prefix_sum(d, "bytes", F.col("doc_id"), sum_name="pre")
    return (
        p.select(
            "doc_id",
            "bytes",
            F.expr(f"CAST(pre DIV {SHARD_BYTES} AS BIGINT)").alias(
                "shard_id"
            ),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bytes").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


_SHARD_MANIFEST_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(n_chars AS BIGINT) + {MEDIA_EST_BASE} + doc_id % 1024 AS bytes
  FROM documents
),
p AS (
  SELECT doc_id, bytes,
         COALESCE(CAST(sum(bytes) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS pre
  FROM d
)
SELECT pre // {SHARD_BYTES} AS shard_id,
       count(*) AS n_docs,
       CAST(sum(bytes) AS BIGINT) AS shard_bytes,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM p
GROUP BY pre // {SHARD_BYTES}
ORDER BY shard_id
"""


# --- VACUUM orphan-file scan -----------------------------------------------

VACUUM_RETENTION_DAYS = 30


def q_vacuum_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM planning (Delta VACUUM / Iceberg remove_orphan_files):
    reconcile the PHYSICAL storage listing against the manifest's
    live file set — files on disk but unreferenced are orphans
    (failed writers, compacted-away inputs, aborted snapshots), and
    only orphans OLDER than the retention window are delete-eligible
    (younger ones may belong to in-flight commits — deleting them is
    the classic vacuum-too-aggressive corruption). Synthesis: every
    doc is a storage file with age doc_id mod 90 days; the manifest
    references all but the doc_id ≡ 3 (mod 7) files (standing in for
    rewrite leftovers).

    Output: one row per class (live / orphan_retained /
    orphan_delete) with file count and byte totals (digit string).

    Scale shape: metadata-plane — one anti-join of two manifest-
    sized listings + ONE ≤3-group aggregate. At 100 TB the storage
    listing is the only big input (10⁷ rows) and the join is keyed
    on file path."""
    storage = table(spark, sf_dir, "documents").select(
        F.concat(F.lit("data/f"), F.col("doc_id").cast("string")).alias(
            "path"
        ),
        (F.col("doc_id") % 90).cast("long").alias("age_days"),
        F.col("n_chars").cast("long").alias("bytes"),
        (F.col("doc_id") % 7 == 3).alias("_orphan"),
    )
    live = storage.where(~F.col("_orphan")).select("path")
    status = (
        storage.join(live.withColumn("_live", F.lit(True)), "path", "left")
        .select(
            "path",
            "bytes",
            F.when(F.col("_live"), "live")
            .when(
                F.col("age_days") > VACUUM_RETENTION_DAYS, "orphan_delete"
            )
            .otherwise("orphan_retained")
            .alias("status"),
        )
    )
    return (
        status.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.col("bytes").cast("decimal(38,0)"))
            .cast("string")
            .alias("bytes_str"),
        )
        .orderBy("status")
    )


_VACUUM_SQL = f"""
WITH storage AS (
  SELECT 'data/f' || CAST(doc_id AS VARCHAR) AS path,
         doc_id % 90 AS age_days,
         CAST(n_chars AS BIGINT) AS bytes,
         (doc_id % 7 = 3) AS _orphan
  FROM documents
)
SELECT CASE WHEN NOT _orphan THEN 'live'
            WHEN age_days > {VACUUM_RETENTION_DAYS} THEN 'orphan_delete'
            ELSE 'orphan_retained' END AS status,
       count(*) AS n_files,
       CAST(sum(bytes) AS VARCHAR) AS bytes_str
FROM storage
GROUP BY 1
ORDER BY status
"""


# --- clustering-depth audit (zonemap overlap health) -----------------------

DEPTH_FILE_ROWS = 20  # docs per synthesized data file


def q_clustering_depth_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-depth audit — the metric OPTIMIZE planners
    (Delta/Iceberg) use to decide whether a table needs re-
    clustering: for each data file's [min, max] zonemap on the sort
    column, DEPTH = how many file ranges overlap it; avg/max depth
    near 1 means scans prune cleanly, high depth means every filter
    touches many files. Two layouts of the SAME rows are audited
    side by side: the NATURAL ingest layout (file = doc_id DIV 20)
    and a CLUSTERED layout where files are carved from the
    skew.global_rank order on (n_chars, doc_id) — the TeraSort-
    shaped rewrite an OPTIMIZE would run — so the output is the
    before/after readout that justifies the rewrite.

    Depth per file avoids the quadratic interval join: depth(f) =
    n_files − #files entirely right of f − #files entirely left of
    f, computed against the SORTED endpoint arrays collected into
    one metadata-sized row (n_files is manifest-scale, ≤10⁷ at
    100 TB — and the per-file probe is a filter over that bounded
    array, not a file×file join).

    Scale shape: the clustered carve is one global_rank pass over
    the corpus (range exchange); everything after the per-file
    min/max aggregate is metadata-plane."""
    from ocr_intern_spark.operators.skew import global_rank

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("k")
    )
    natural = docs.select(
        F.expr(f"doc_id DIV {DEPTH_FILE_ROWS}").alias("file_id"), "k"
    )
    ranked = global_rank(docs, F.asc("k"), F.asc("doc_id")).select(
        F.expr(f"(rank - 1) DIV {DEPTH_FILE_ROWS}").alias("file_id"),
        "k",
    )

    def depth(layout: DataFrame, name: str) -> DataFrame:
        zm = layout.groupBy("file_id").agg(
            F.min("k").alias("lo"), F.max("k").alias("hi")
        )
        ends = zm.agg(
            F.count(F.lit(1)).alias("n_files"),
            F.array_sort(F.collect_list("lo")).alias("los"),
            F.array_sort(F.collect_list("hi")).alias("his"),
        )
        per = zm.crossJoin(F.broadcast(ends)).select(
            "file_id",
            (
                F.col("n_files")
                - F.expr("size(filter(los, v -> v > hi))")
                - F.expr("size(filter(his, v -> v < lo))")
            ).alias("depth"),
            "n_files",
        )
        return per.groupBy().agg(
            F.lit(name).alias("layout"),
            F.max("n_files").alias("n_files"),
            F.max("depth").alias("max_depth"),
            F.sum("depth").alias("sum_depth"),
            F.expr(
                "CAST(sum(depth) * 100 DIV max(n_files) AS BIGINT)"
            ).alias("avg_depth_centi"),
        )

    return (
        depth(natural, "natural")
        .unionAll(depth(ranked, "clustered"))
        .select(
            "layout", "n_files", "max_depth", "sum_depth", "avg_depth_centi"
        )
        .orderBy("layout")
    )


_DEPTH_SQL = f"""
WITH docs AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS k FROM documents
),
nat AS (
  SELECT doc_id // {DEPTH_FILE_ROWS} AS file_id, k FROM docs
),
rk AS (
  SELECT k, row_number() OVER (ORDER BY k, doc_id) AS rank FROM docs
),
clu AS (
  SELECT (rank - 1) // {DEPTH_FILE_ROWS} AS file_id, k FROM rk
),
depth_nat AS (
  SELECT z.file_id,
         (SELECT count(*) FROM (SELECT file_id, min(k) lo, max(k) hi
                                FROM nat GROUP BY file_id) g
          WHERE g.lo <= z.hi AND g.hi >= z.lo) AS depth
  FROM (SELECT file_id, min(k) lo, max(k) hi
        FROM nat GROUP BY file_id) z
),
depth_clu AS (
  SELECT z.file_id,
         (SELECT count(*) FROM (SELECT file_id, min(k) lo, max(k) hi
                                FROM clu GROUP BY file_id) g
          WHERE g.lo <= z.hi AND g.hi >= z.lo) AS depth
  FROM (SELECT file_id, min(k) lo, max(k) hi
        FROM clu GROUP BY file_id) z
)
SELECT 'clustered' AS layout, count(*) AS n_files,
       CAST(max(depth) AS BIGINT) AS max_depth,
       CAST(sum(depth) AS BIGINT) AS sum_depth,
       CAST(sum(depth) * 100 // count(*) AS BIGINT) AS avg_depth_centi
FROM depth_clu
UNION ALL
SELECT 'natural', count(*),
       CAST(max(depth) AS BIGINT), CAST(sum(depth) AS BIGINT),
       CAST(sum(depth) * 100 // count(*) AS BIGINT)
FROM depth_nat
ORDER BY layout
"""


# --- Hilbert-curve clustering key (vs Z-order) -----------------------------

HILBERT_ORDER = 8                 # 8 bits/axis → 256×256 grid
HILBERT_N = 1 << HILBERT_ORDER


def q_hilbert_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key next to the Morton/Z-order key —
    the data-layout refinement `OPTIMIZE ZORDER` users graduate to:
    the Hilbert curve has strictly better locality (consecutive curve
    positions are ALWAYS manhattan-adjacent on the full grid — the
    unit pin asserts exactly that law — while Z-order takes long
    diagonal jumps at bit boundaries), which tightens per-file
    min-max ranges and prunes more at scan time.

    The curve index uses a PURE-ARITHMETIC recurrence (no bitwise
    ops, so both engines compute it with DIV/MOD only): per level s =
    2^(k-1)..1 with invariant x, y < 2s, quadrant q = ry if rx = 0
    else 3 − ry (rx = x DIV s, ry = y DIV s), d += s²·q, and the
    sub-square re-orientation is the standard reflect-and-swap. In
    Spark the 8-level fold runs INSIDE Catalyst via F.aggregate over
    a constant level array (a per-row O(order) expression — exactly
    as codegen-friendly as the zorder_key shift tree); the oracle
    unrolls the identical recurrence with a recursive CTE.

    Coordinates are md5-synthesized from doc_id (fixture policy of
    the manifest queries). At 100 TB this is a narrow map before a
    range-partitioned sort — the TeraSort shape, same as
    zorder_sorted."""
    from ocr_intern_spark.functions.zorder import zorder_key

    def coord(axis: str) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.col("doc_id").cast("string"), F.lit(axis))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % HILBERT_N
        )

    pts = table(spark, sf_dir, "documents").select(
        "doc_id", coord("hx").alias("x"), coord("hy").alias("y")
    )
    levels = ", ".join(
        str(1 << (HILBERT_ORDER - 1 - i)) for i in range(HILBERT_ORDER)
    )
    hilbert = F.expr(
        f"""aggregate(
          array({levels}),
          struct(CAST(x AS BIGINT) AS hx, CAST(y AS BIGINT) AS hy,
                 CAST(0 AS BIGINT) AS d),
          (acc, s) -> struct(
            CASE WHEN acc.hy DIV s = 1 THEN acc.hx % s
                 WHEN acc.hx DIV s = 1 THEN s - 1 - (acc.hy % s)
                 ELSE acc.hy % s END AS hx,
            CASE WHEN acc.hy DIV s = 1 THEN acc.hy % s
                 WHEN acc.hx DIV s = 1 THEN s - 1 - (acc.hx % s)
                 ELSE acc.hx % s END AS hy,
            acc.d + s * s * (CASE WHEN acc.hx DIV s = 0
                                  THEN acc.hy DIV s
                                  ELSE 3 - (acc.hy DIV s) END) AS d
          ),
          acc -> acc.d
        )"""
    )
    return pts.select(
        "doc_id",
        "x",
        "y",
        hilbert.alias("hilbert_d"),
        zorder_key(F.col("x"), F.col("y"), bits=HILBERT_ORDER).alias(
            "morton_d"
        ),
    ).orderBy("doc_id")


def _hilbert_sql() -> str:
    coord = (
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{ax}'), 1, 8)) "
        f"AS BIGINT) % {HILBERT_N}"
    )
    morton = " + ".join(
        f"(((x >> {b}) & 1) << {2 * b}) + (((y >> {b}) & 1) << {2 * b + 1})"
        for b in range(HILBERT_ORDER)
    )
    return f"""
WITH RECURSIVE pts AS (
  SELECT doc_id,
         {coord.format(ax="hx")} AS x,
         {coord.format(ax="hy")} AS y
  FROM documents
),
h AS (
  SELECT doc_id, x AS hx, y AS hy, CAST(0 AS BIGINT) AS d,
         {HILBERT_N // 2} AS s
  FROM pts
  UNION ALL
  SELECT doc_id,
    CASE WHEN hy // s = 1 THEN hx % s
         WHEN hx // s = 1 THEN s - 1 - (hy % s)
         ELSE hy % s END,
    CASE WHEN hy // s = 1 THEN hy % s
         WHEN hx // s = 1 THEN s - 1 - (hx % s)
         ELSE hx % s END,
    d + s * s * (CASE WHEN hx // s = 0 THEN hy // s
                      ELSE 3 - (hy // s) END),
    s // 2
  FROM h WHERE s >= 1
)
SELECT p.doc_id, p.x, p.y,
       CAST(h.d AS BIGINT) AS hilbert_d,
       CAST({morton} AS BIGINT) AS morton_d
FROM pts p JOIN h ON h.doc_id = p.doc_id AND h.s = 0
ORDER BY p.doc_id
"""


# --- Iceberg v2 merge-on-read positional delete vectors -------------------

DV_FILE_KEYS = 400  # orderkeys per synthesized data file


def q_delete_vector_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read positional-delete semantics (Iceberg v2 delete
    files / Delta deletion vectors): a delete file records (file,
    pos) pairs, and the reader applies them by POSITION during the
    scan — it never re-evaluates the predicate that produced them.
    This query executes that read path and CERTIFIES it against the
    predicate path: per data file it computes live-row count and
    live-quantity cents twice — once by anti-joining the positional
    delete vector, once by direct predicate filtering — and emits
    both plus an equality verdict, so the driver hash proves
    MoR-read ≡ predicate-read row for row.

    The file layout is synthesized deterministically: file_id =
    l_orderkey DIV 400, pos = row_number within the file ordered by
    (l_orderkey, l_linenumber, l_partkey, l_suppkey) — the position
    assignment an Iceberg writer fixes at commit time. The delete vector marks returned
    items with (l_partkey + l_suppkey) % 5 = 2, standing in for a
    MERGE's matched set.

    Scale shape: pos assignment is a window partitioned BY FILE —
    per-file row counts are bounded by the layout (400 orderkeys ×
    ~4 lines), constant at any corpus size, and the window's
    partition key is the same key the anti-join shuffles on, so
    Catalyst reuses one exchange. The DV apply is an equi anti-join
    on (file_id, pos) — exactly how a MoR reader masks positions per
    file. No broadcast needed: the DV is keyed to the same partition
    layout as the scan."""
    li = _t_lineitem(spark, sf_dir).select(
        F.expr(f"l_orderkey DIV {DV_FILE_KEYS}").alias("file_id"),
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_partkey",
        "l_suppkey",
        cents(F.col("l_quantity")).alias("qty_cents"),
    )
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic corpus;
    # (…, l_partkey, l_suppkey) is — the ordering must be total or the
    # two engines' position assignments diverge on the ties.
    w = Window.partitionBy("file_id").orderBy(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    rows = li.withColumn("pos", F.row_number().over(w) - 1).withColumn(
        "deleted",
        (F.col("l_returnflag") == "R")
        & ((F.col("l_partkey") + F.col("l_suppkey")) % 5 == 2),
    )
    dv = rows.where("deleted").select("file_id", "pos")
    mor_live = rows.join(dv, ["file_id", "pos"], "left_anti")
    mor = mor_live.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_live_mor"),
        F.sum("qty_cents").alias("qty_cents_mor"),
    )
    direct = rows.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("deleted").cast("long")).alias("n_deleted"),
        F.sum(F.when(~F.col("deleted"), F.col("qty_cents")).otherwise(0)).alias(
            "qty_cents_direct"
        ),
    )
    return (
        direct.join(mor, "file_id", "left")
        .select(
            "file_id",
            "n_rows",
            "n_deleted",
            F.coalesce("n_live_mor", F.lit(0)).alias("n_live_mor"),
            (F.col("n_rows") - F.col("n_deleted")).alias("n_live_direct"),
            F.coalesce("qty_cents_mor", F.lit(0)).alias("qty_cents_mor"),
            "qty_cents_direct",
            (
                (
                    F.coalesce("n_live_mor", F.lit(0))
                    == (F.col("n_rows") - F.col("n_deleted"))
                )
                & (
                    F.coalesce("qty_cents_mor", F.lit(0))
                    == F.col("qty_cents_direct")
                )
            ).alias("dv_applied_ok"),
        )
        .orderBy("file_id")
    )


def _t_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "lineitem")


_DV_SQL = f"""
WITH rows AS (
  SELECT l_orderkey // {DV_FILE_KEYS} AS file_id,
         row_number() OVER (
           PARTITION BY l_orderkey // {DV_FILE_KEYS}
           ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
         ) - 1 AS pos,
         (l_returnflag = 'R'
          AND (l_partkey + l_suppkey) % 5 = 2) AS deleted,
         {cents_sql("l_quantity")} AS qty_cents
  FROM lineitem
),
dv AS (SELECT file_id, pos FROM rows WHERE deleted),
mor AS (
  SELECT r.file_id, count(*) AS n_live_mor,
         sum(r.qty_cents) AS qty_cents_mor
  FROM rows r ANTI JOIN dv ON dv.file_id = r.file_id AND dv.pos = r.pos
  GROUP BY r.file_id
),
direct AS (
  SELECT file_id, count(*) AS n_rows,
         sum(CASE WHEN deleted THEN 1 ELSE 0 END) AS n_deleted,
         sum(CASE WHEN deleted THEN 0 ELSE qty_cents END)
           AS qty_cents_direct
  FROM rows GROUP BY file_id
)
SELECT d.file_id,
       CAST(d.n_rows AS BIGINT) AS n_rows,
       CAST(d.n_deleted AS BIGINT) AS n_deleted,
       CAST(COALESCE(m.n_live_mor, 0) AS BIGINT) AS n_live_mor,
       CAST(d.n_rows - d.n_deleted AS BIGINT) AS n_live_direct,
       CAST(COALESCE(m.qty_cents_mor, 0) AS BIGINT) AS qty_cents_mor,
       CAST(d.qty_cents_direct AS BIGINT) AS qty_cents_direct,
       (COALESCE(m.n_live_mor, 0) = d.n_rows - d.n_deleted
        AND COALESCE(m.qty_cents_mor, 0) = d.qty_cents_direct)
         AS dv_applied_ok
FROM direct d LEFT JOIN mor m ON m.file_id = d.file_id
ORDER BY d.file_id
"""


QUERIES = {
    "table_compaction_plan": (q_compaction_plan, _COMPACTION_SQL),
    "table_zonemap_prune_stats": (q_zonemap_prune_stats, _ZONEMAP_SQL),
    "table_partition_skew_report": (
        q_partition_skew_report,
        _PARTITION_SKEW_SQL,
    ),
    "table_snapshot_expiry_plan": (
        q_snapshot_expiry_plan,
        _SNAPSHOT_EXPIRY_SQL,
    ),
    "table_column_stats": (q_column_stats, _COLUMN_STATS_SQL),
    "table_shard_manifest": (q_shard_manifest, _SHARD_MANIFEST_SQL),
    "table_delete_vector_apply": (q_delete_vector_apply, _DV_SQL),
    "table_hilbert_order": (q_hilbert_order, _hilbert_sql()),
    "table_clustering_depth_audit": (q_clustering_depth_audit, _DEPTH_SQL),
    "table_vacuum_orphans": (q_vacuum_orphans, _VACUUM_SQL),
}
