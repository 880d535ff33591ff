package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.util.Dirs

/** Table-maintenance surface — the jobs a lakehouse deployment runs
  * between queries, expressed as first-class oracle-checked operators.
  *
  *  - Small-file compaction: streaming sinks and fine-grained
  *    partitioned writes leave thousands of KB-scale files; at 100 TB
  *    the resulting task-per-file scheduling and NameNode/listing
  *    pressure dominate scan cost. Compaction rewrites a directory to
  *    size-targeted files. The CONTENT-preservation half is the
  *    oracle-checked query (checksum over every row before == after);
  *    the file-count/size half is filesystem-dependent and asserted in
  *    MaintenanceSpec instead.
  *  - Table stats: per-column min/max/ndv/null-count — what a
  *    cost-based optimizer consumes (`ANALYZE TABLE`). Exact
  *    distincts, so DuckDB re-derives every number.
  */
object Maintenance {

  /** Rows per compacted output file (the size target, expressed in
    * rows because the fixture rows are fixed-width-ish; a byte target
    * is the production knob). */
  val COMPACT_ROWS_PER_FILE = 4096L

  /** Writes the fragmented input (one file per `user_id` hash slice —
    * the shape a key-partitioned streaming sink leaves behind), then
    * compacts it to `ceil(rows / COMPACT_ROWS_PER_FILE)` files. The
    * slice count is `max(64, 2 × target)` so the fixture is MORE
    * fragmented than the size target at every SF — a fixed 64 would
    * silently make coalesce(target > 64) a no-op once rows exceed
    * 64 × COMPACT_ROWS_PER_FILE, and MaintenanceSpec's exact
    * file-count assertion would fail. */
  private[operators] def ensure(s: SparkSession, dir: String): String =
    Dirs.derived(s, dir, "maint") {
      val root = Dirs.scratch("graft-maint").toString
      val ev = Tables(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      val n = ev.count()
      val target =
        ((n + COMPACT_ROWS_PER_FILE - 1) / COMPACT_ROWS_PER_FILE).toInt
      ev.repartition(math.max(64, 2 * target), col("user_id"))
        .write.mode("overwrite").parquet(s"$root/fragmented")
      val frag = s.read.parquet(s"$root/fragmented")
      // coalesce, not repartition: compaction must not pay a shuffle —
      // it only concatenates co-located input splits into fewer,
      // larger files
      frag.coalesce(target)
        .write.mode("overwrite").parquet(s"$root/compacted")
      root
    }

  /** Content preservation proof: identical row count and full-column
    * checksum before and after compaction. */
  def compactFiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = ensure(s, dir)
    def summary(path: String, stage: String) =
      s.read.parquet(path)
        .agg(count(lit(1)).as("n_rows"),
          sum($"event_id").as("sum_id"),
          sum($"user_id").as("sum_user"),
          round(sum($"value"), 2).as("sum_value"))
        .withColumn("stage", lit(stage))
    summary(s"$root/fragmented", "fragmented")
      .unionAll(summary(s"$root/compacted", "compacted"))
      .select($"stage", $"n_rows", $"sum_id", $"sum_user", $"sum_value")
      .orderBy($"stage")
  }

  /** Output files for the z-ordered rewrite. */
  val ZORDER_FILES = 16

  /** The OPTIMIZE half of the z-order story ([[zorderCluster]] is the
    * stats half): REWRITE orders into ZORDER_FILES files range-
    * partitioned and sorted by the Morton code, so every output
    * file's parquet footer carries tight min/max on BOTH clustering
    * dimensions and a reader's data-skipping prunes on either
    * predicate. One range exchange (the intrinsic cost of imposing a
    * global order) + a per-partition sort; the z-value is the same
    * codegen'd interleave expression. File-level skipping quality is
    * asserted in MaintenanceSpec (per-file dual-dimension spread
    * bounds); CONTENT preservation is the oracle-checked half, same
    * contract as [[compactFiles]]. */
  private[operators] def ensureZorderWrite(
      s: SparkSession, dir: String): String =
    Dirs.derived(s, dir, "zorder") {
      val root = Dirs.scratch("graft-zorder").toString
      val mask = (1L << ZORDER_BITS) - 1
      val src = Tables(s, dir, "orders")
      val dayCol = datediff(col("o_orderdate").cast("date"),
        lit(java.sql.Date.valueOf("1995-01-01"))).cast("long")
      // Bounds pass (the ANALYZE half of the OPTIMIZE loop, same
      // two-step shape as maint_histogram_analyzed): raw dimensions
      // have wildly different ranges (custkey grows with SF, the
      // date span doesn't), and interleaving UNSCALED values lets
      // the wider dimension's high bits dominate the code — the
      // narrow dimension then never clusters (measured: per-file
      // custkey spread ≈ the full domain before scaling). Min-max
      // scale each dim to the full ZORDER_BITS width in exact
      // integer arithmetic first.
      val b = src.agg(
        min(col("o_custkey")), max(col("o_custkey")),
        min(dayCol), max(dayCol)).head() // bounded: one 4-col row
      val (minX, maxX) = (b.getLong(0), b.getLong(1))
      val (minY, maxY) = (b.getLong(2), b.getLong(3))
      def scaled(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
        ((c - lit(lo)) * lit(mask)) / lit(math.max(1L, hi - lo))
      val withZ = src.withColumn("zval", zInterleave(
        scaled(col("o_custkey"), minX, maxX).cast("long"),
        scaled(dayCol, minY, maxY).cast("long")))
      withZ
        .repartitionByRange(ZORDER_FILES, col("zval"))
        .sortWithinPartitions(col("zval"))
        .drop("zval")
        .write.mode("overwrite").parquet(s"$root/zordered")
      root
    }

  /** Content-preservation proof for the z-ordered rewrite: identical
    * row count and key/price checksums before and after. */
  def zorderWrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = ensureZorderWrite(s, dir)
    def summary(df: DataFrame, stage: String) =
      df.agg(count(lit(1)).as("n_rows"),
        sum($"o_orderkey").as("sum_key"),
        sum($"o_custkey").as("sum_cust"),
        sum(floor($"o_totalprice" * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
        .withColumn("stage", lit(stage))
    summary(Tables(s, dir, "orders"), "source")
      .unionAll(summary(s.read.parquet(s"$root/zordered"), "zordered"))
      .select($"stage", $"n_rows", $"sum_key", $"sum_cust", $"sum_cents")
      .orderBy($"stage")
  }

  /** Files for the date-sorted layout behind [[fileSkipping]]. */
  val SKIP_FILES = 16

  /** (files_total, files_read) of the most recent [[fileSkipping]]
    * run — MaintenanceSpec asserts real pruning happened. */
  val lastSkipStats =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (Int, Int)]()

  private[operators] def ensureDateLayout(
      s: SparkSession, dir: String): String =
    Dirs.derived(s, dir, "skip") {
      val root = Dirs.scratch("graft-skip").toString
      Tables(s, dir, "orders")
        .repartitionByRange(SKIP_FILES, col("o_orderdate"))
        .sortWithinPartitions(col("o_orderdate"))
        .write.mode("overwrite").parquet(s"$root/by_date")
      root
    }

  /** FILE-SKIPPING INDEX (zone map) — the lakehouse data-skipping
    * pattern: a bounded per-file min/max stats table over the
    * date-sorted layout selects only the files whose range overlaps
    * the predicate; the query scans just those plus a residual filter.
    * Spark's parquet reader already skips ROW GROUPS from pushed
    * filters; this adds the FILE level from an external stats table —
    * which at 100 TB is the difference between listing/opening a
    * million footers and consulting a million-row stats table (the
    * Delta/Iceberg transaction-log stats shape; here the stats come
    * from one scan via `input_file_name()`, a production table
    * maintains them at write time exactly like [[ensureZorderWrite]]'s
    * footers). The pruning is LOSSLESS by the overlap test, so the
    * answer equals the full filtered scan — which is what the oracle
    * checks, blind to the layout; MaintenanceSpec asserts files_read
    * ≪ files_total. */
  def fileSkipping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = ensureDateLayout(s, dir)
    val laid = s.read.parquet(s"$root/by_date")
    // zone map: one row per file (bounded collect: SKIP_FILES rows).
    // Ranges in UTC epoch micros — physical-ts-type agnostic (the same
    // NTZ/nanos drift the Tables loader absorbs).
    val zones = laid
      .groupBy(input_file_name().as("f"))
      .agg(min(unix_micros($"o_orderdate".cast("timestamp"))).as("lo"),
        max(unix_micros($"o_orderdate".cast("timestamp"))).as("hi"))
      .collect()
    def micros(d: String) =
      java.time.Instant.parse(s"${d}T00:00:00Z").toEpochMilli * 1000L
    val (qLo, qHi) = (micros("1996-03-01"), micros("1996-05-01"))
    val cand = zones.filter { r => // overlap: lo < qHi AND hi >= qLo
      r.getLong(1) < qHi && r.getLong(2) >= qLo
    }.map(_.getString(0))
    lastSkipStats.put((s, dir), (zones.length, cand.length))
    val pruned =
      if (cand.isEmpty) laid.filter(lit(false)) else s.read.parquet(cand.toIndexedSeq: _*)
    pruned
      .filter($"o_orderdate" >= lit("1996-03-01").cast("timestamp") &&
        $"o_orderdate" < lit("1996-05-01").cast("timestamp"))
      .groupBy(to_date(date_trunc("month", $"o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor($"o_totalprice" * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
      .orderBy($"month")
  }

  /** ANALYZE-style per-column stats over orders, in ONE scan: a single
    * wide aggregate computes every column's count/ndv/min/max (the
    * multiple exact distincts compile to one Expand — 3× the rows
    * through the aggregate, but the table is READ once, which is the
    * honest ANALYZE shape and 3× less I/O than an aggregate-per-column
    * union at 100 TB), then `stack` unpivots the single wide row into
    * one row per column — a 1-row transform, not a second scan.
    * PlanSpec pins the one-scan shape. */
  def tableStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables(s, dir, "orders")
    val specs = Seq(
      ("o_orderkey", $"o_orderkey".cast("double")),
      ("o_custkey", $"o_custkey".cast("double")),
      ("o_totalprice", $"o_totalprice"))
    val aggs = count(lit(1)).as("n_rows") +: specs.flatMap { case (n, c) =>
      Seq(count(c).as(s"nn_$n"), countDistinct(c).as(s"ndv_$n"),
        round(min(c), 2).as(s"min_$n"), round(max(c), 2).as(s"max_$n"))
    }
    val stackArgs = specs.map { case (n, _) =>
      s"'$n', n_rows, nn_$n, ndv_$n, min_$n, max_$n"
    }.mkString(", ")
    o.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(3, $stackArgs) AS " +
        "(column_name, n_rows, n_nonnull, ndv, min_v, max_v)")
      .orderBy($"column_name")
  }

  /** Histogram bucket width over `o_totalprice`. FIXED width, because
    * a data-dependent (min/max-scaled) width needs a bounds pass
    * first — two scans where one suffices; a production ANALYZE picks
    * the width from the previous run's stats the same way. */
  val HIST_WIDTH = 10000.0

  /** Equi-width histogram — the other half of ANALYZE next to
    * [[tableStats]]: per-bucket row counts, what a cost-based
    * optimizer's selectivity estimates consume. One scan, map-side
    * combined count per bucket (≤ a few hundred groups regardless of
    * table size). Bucket = floor(v / width): identical IEEE division
    * + floor on both engines, so counts hash-match exactly. */
  def histogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "orders")
      .select(floor($"o_totalprice" / HIST_WIDTH).cast("long").as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"))
      .select($"bucket",
        round($"bucket" * HIST_WIDTH, 1).as("lo"),
        round(($"bucket" + 1) * HIST_WIDTH, 1).as("hi"),
        $"n_rows")
      .orderBy($"bucket")
  }

  /** Buckets in the stats-derived histogram. */
  val ANALYZED_BUCKETS = 64

  /** The full production ANALYZE loop [[histogram]]'s docstring
    * gestures at: pass 1 is [[tableStats]] itself (ONE scan), whose
    * o_totalprice min/max — a single bounded row collected to the
    * driver — derive the bucket width; pass 2 buckets the table by
    * that width in ONE more scan. Two scans total, each individually
    * pinned to one scan; no third.
    *
    * Determinism across engines: the width is computed from the stats
    * pass's ROUNDED min/max (2dp — safe on 2-decimal money, never an
    * exact .xx5 halfway) with identical IEEE double arithmetic on both
    * sides ((mx-mn)/64, (v-mn)/w, floor, and bucket*w+mn reassembly),
    * so buckets and bounds hash-match with no further rounding. The
    * max row lands in the last bucket via least(.., 63) — the standard
    * closed-top-bucket convention. */
  def histogramFromStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (mn, mx) = tableStats(s, dir)
      .filter($"column_name" === "o_totalprice")
      .select($"min_v", $"max_v").as[(Double, Double)]
      .collect().head
    require(mx > mn, s"degenerate o_totalprice range [$mn, $mx]")
    val w = (mx - mn) / ANALYZED_BUCKETS
    Tables(s, dir, "orders")
      .select(least(floor(($"o_totalprice" - mn) / w),
        lit(ANALYZED_BUCKETS - 1L)).as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"))
      .select($"bucket",
        ($"bucket" * w + mn).as("lo"),
        (($"bucket" + 1) * w + mn).as("hi"),
        $"n_rows")
      .orderBy($"bucket")
  }

  /** Buckets in the equi-height histogram. */
  val EQUIHEIGHT_BUCKETS = 16

  /** EQUI-HEIGHT histogram over `o_totalprice` — the CBO standard the
    * equi-width pair does not cover (equal-frequency buckets adapt to
    * skew; equal-width buckets starve dense ranges). Bucket bounds are
    * EXACT order statistics in q29's bit-portable style: rank-based
    * integer selection (`bucket = i·B div n` over the global (value,
    * key) rank), pure integer arithmetic both engines replay
    * identically — never an interpolating quantile function.
    *
    * Scale shape — global ranks WITHOUT the global-window pathology
    * (one task sorting the world, the exact q25 anti-pattern): the
    * narrow (v, id) projection is distributively range-sorted
    * (multi-partition range exchange) and PERSISTED (spill-to-disk —
    * the standard cost of an exact multi-order-statistic; the
    * alternative is paying the reduce-side sort twice), then
    * `zipWithIndex` assigns global indices from the cached
    * per-partition sizes; no partition ever holds more than its range
    * slice. This is the one genuinely imperative per-partition step,
    * which is what the RDD escape hatch is for; everything after is a
    * map-side-combined B-group aggregate whose B-row result is
    * materialized eagerly so the cache can be released before
    * returning. Two data passes total: the count scan and the
    * sort+bucket pass. */
  /** The distributed range-sort stage (plan pinned in MaintenanceSpec:
    * RangePartitioning exchange, never a single partition). */
  private[operators] def equiheightSorted(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "orders")
      .select($"o_totalprice".as("v"), $"o_orderkey".as("id"))
      .orderBy($"v", $"id")
  }

  /** The rank→bucket aggregation over an (already sorted) RDD (plan
    * pinned in MaintenanceSpec: partial-combined aggregate, no
    * Window). */
  private[operators] def equiheightAgg(
      s: SparkSession,
      sorted: org.apache.spark.rdd.RDD[(Double, Long)],
      n: Long): DataFrame = {
    import s.implicits._
    val b = EQUIHEIGHT_BUCKETS.toLong
    sorted.zipWithIndex()
      .map { case ((v, _), i) => (i * b / n, v) } // exact integer ranks
      .toDF("bucket", "v")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"),
        round(min($"v"), 2).as("lo"),
        round(max($"v"), 2).as("hi"))
      .select($"bucket", $"n_rows", $"lo", $"hi")
      .orderBy($"bucket")
  }

  def equiheightHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = equiheightSorted(s, dir)
    val n = o.count()
    require(n >= EQUIHEIGHT_BUCKETS, s"fewer rows ($n) than buckets")
    val sorted = o.as[(Double, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = equiheightAgg(s, sorted, n)
        .as[(Long, Long, Double, Double)]
        .collect() // B rows — bounded at any table size
      rows.toSeq.toDF("bucket", "n_rows", "lo", "hi")
    } finally sorted.unpersist(blocking = false)
  }

  /** Bits per dimension in the z-order interleave. 12 bits cover both
    * clustering dimensions here (custkey ≤ 1499, day offset ≤ ~2400);
    * the production knob is however many high bits the file-count
    * budget allows. */
  val ZORDER_BITS = 12

  /** Morton/z-order bit interleave of two ZORDER_BITS-wide columns —
    * a pure codegen'd integer expression tree (shift/and/add), no UDF.
    * x occupies even bit positions, y odd. */
  private[operators] def zInterleave(
      x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until ZORDER_BITS).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Z-order clustering — the lakehouse multi-dimensional layout job
    * (Delta OPTIMIZE ZORDER BY, Iceberg sort-order rewrite): interleave
    * the bits of two filter columns (customer key × order-date day
    * offset) into a Morton code, bucket rows by the code's high bits,
    * and report per-bucket min/max of BOTH dimensions — the file-level
    * column stats a reader's data-skipping consults. The point the
    * output proves: every bucket bounds every clustered dimension
    * (max−min < 2^(ZORDER_BITS−3) per dim with a 6-bit bucket prefix),
    * so a predicate on EITHER column prunes most buckets — which a
    * single-column sort cannot do for the second column.
    *
    * Scale shape: one scan + a codegen'd projection, then a groupBy on
    * the bucket id (map-side combined, ≤64 groups). The production job
    * adds a repartitionByRange(zval) + write, which is one range
    * shuffle; the stats/bucketing math here is the part a reader's
    * correctness depends on, and is what the oracle replays bit-exactly
    * with DuckDB's integer shift/mask arithmetic. */
  def zorderCluster(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mask = (1L << ZORDER_BITS) - 1
    val base = Tables(s, dir, "orders").select(
      $"o_custkey".bitwiseAND(lit(mask)).as("x"),
      datediff($"o_orderdate".cast("date"),
          lit(java.sql.Date.valueOf("1995-01-01")))
        .cast("long").bitwiseAND(lit(mask)).as("y"))
    base
      .withColumn("bucket", shiftright(zInterleave($"x", $"y"),
        2 * ZORDER_BITS - 6))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"),
        min($"x").as("min_x"), max($"x").as("max_x"),
        min($"y").as("min_y"), max($"y").as("max_y"))
      .orderBy($"bucket")
  }

  /** Key-sharding moduli for the two snapshot deltas (which orders the
    * v1/v2 commits update). */
  val SNAP_V1_MOD = 7L
  val SNAP_V2_MOD = 5L

  /** Materialize a three-commit versioned table (lakehouse log shape):
    * v0 = the full orders base, v1/v2 = update deltas touching the
    * keys ≡ 0 (mod [[SNAP_V1_MOD]]/[[SNAP_V2_MOD]]), plus a MANIFEST
    * (one row per commit: version, path) — the transaction log a time
    * traveler consults INSTEAD of listing the directory. */
  private[operators] def ensureSnapshots(
      s: SparkSession, dir: String): String =
    Dirs.derived(s, dir, "snap") {
      import s.implicits._
      val root = Dirs.scratch("graft-snap").toString
      val base = Tables(s, dir, "orders").select($"o_orderkey".as("k"),
        $"o_orderstatus".as("status"),
        expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
          .as("price_cents"))
      base.write.mode("overwrite").parquet(s"$root/v0")
      base.filter(pmod($"k", lit(SNAP_V1_MOD)) === 0)
        .select($"k", lit("U1").as("status"),
          ($"price_cents" + 100L).as("price_cents"))
        .write.mode("overwrite").parquet(s"$root/v1")
      base.filter(pmod($"k", lit(SNAP_V2_MOD)) === 0)
        .select($"k", lit("U2").as("status"),
          ($"price_cents" + 250L).as("price_cents"))
        .write.mode("overwrite").parquet(s"$root/v2")
      Seq((0L, s"$root/v0"), (1L, s"$root/v1"), (2L, s"$root/v2"))
        .toDF("version", "path").coalesce(1)
        .write.mode("overwrite").json(s"$root/manifest")
      root
    }

  /** Version to time-travel to in [[snapshotRead]]: after v1, before
    * v2 — the read must SEE the v1 updates and NOT the v2 ones. */
  val SNAP_AS_OF = 1L

  /** Time-travel read AS OF version [[SNAP_AS_OF]] over the versioned
    * log [[ensureSnapshots]] writes. The contract under test:
    *  - file pruning happens on the MANIFEST (a bounded read: one row
    *    per commit), never by listing data directories — newer commits
    *    (v2 here) sit in the same tree and must cost zero I/O;
    *  - latest-wins per key across the selected versions, resolved by
    *    one map-side-combinable `max(struct(version, …))` aggregation
    *    (argmax-by-version; exactly one row per key per version, so
    *    the struct order never tie-breaks on payload) — the same
    *    single-shuffle shape as [[Cdc]]'s upsert apply, no window.
    * Output is the as-of-v1 status census, which the oracle recomputes
    * from `orders` alone (v1 updates applied, v2 invisible). */
  /** Latest-wins state (k, status, price_cents) as of `asOf`, reading
    * only manifest-selected files — the shared core of
    * [[snapshotRead]] and [[snapshotDiff]]. */
  private def asOfState(
      s: SparkSession, root: String, asOf: Long): DataFrame = {
    import s.implicits._
    val manifest = s.read.json(s"$root/manifest")
      .select($"version".cast("long"), $"path".as[String])
      .as[(Long, String)]
      .collect() // bounded: one row per commit
      .toSeq.sortBy(_._1)
    val selected = manifest.filter(_._1 <= asOf)
    val unioned = selected.map { case (v, p) =>
      s.read.parquet(p).withColumn("version", lit(v))
    }.reduce(_ unionAll _)
    unioned
      .groupBy($"k")
      .agg(max(struct($"version", $"status", $"price_cents")).as("m"))
      .select($"k", $"m.status".as("status"),
        $"m.price_cents".as("price_cents"))
  }

  def snapshotRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    asOfState(s, ensureSnapshots(s, dir), SNAP_AS_OF)
      .groupBy($"status")
      .agg(count(lit(1)).as("n_orders"),
        sum($"price_cents").as("sum_cents"))
      .orderBy($"status")
  }

  /** Incremental snapshot DIFF — what changed between two committed
    * versions (the CDC-read / audit question a lakehouse answers from
    * its log): transition census old→new with row counts and the net
    * value delta. Both states come from [[asOfState]] (manifest-pruned
    * reads), joined once on the key; unchanged rows drop out in the
    * filter, so the output is proportional to the CHANGE SET, not the
    * table. In a production log the v2 state would read only the
    * delta files newer than v1 — here both sides still prune by
    * manifest, and the join is the single shuffle. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = ensureSnapshots(s, dir)
    val v1 = asOfState(s, root, SNAP_AS_OF)
      .select($"k", $"status".as("old_status"),
        $"price_cents".as("old_cents"))
    val v2 = asOfState(s, root, SNAP_AS_OF + 1)
      .select($"k", $"status".as("new_status"),
        $"price_cents".as("new_cents"))
    v1.join(v2, "k")
      .filter($"old_status" =!= $"new_status" ||
        $"old_cents" =!= $"new_cents")
      .groupBy($"old_status", $"new_status")
      .agg(count(lit(1)).as("n_changed"),
        sum($"new_cents" - $"old_cents").as("delta_cents"))
      .orderBy($"old_status", $"new_status")
  }

  /** Delta membership for [[incrementalStats]]: keys ≡0 mod this are
    * the "newly appended" slice. */
  val INCR_DELTA_MOD = 10L

  /** Incremental ANALYZE — maintain table statistics under appends
    * WITHOUT rescanning the base: per-column stats are computed on
    * the base slice and the delta slice separately, then MERGED with
    * the stats algebra (counts add, mins min, maxes max, sums add) —
    * the mergeable-statistic subset a lakehouse keeps per file/commit
    * and folds at query time (NDV joins this set via the mergeable
    * KMV sketch, proven in `sketch_kmv_setops`; kept out of this
    * key's wire so every output stays exact-integer). The oracle
    * computes the SAME stats from the full table in one pass — the
    * hash match IS the proof that merge(base, delta) == full. Money
    * is integer cents throughout. */
  def incrementalStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables(s, dir, "orders")
      .select($"o_orderkey".cast("long").as("k"),
        $"o_custkey".cast("long").as("c"),
        expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
          .as("p"))
    def side(df: org.apache.spark.sql.DataFrame) = {
      val specs = Seq("k" -> $"k", "c" -> $"c", "p" -> $"p")
      val aggs = count(lit(1)).as("n_rows") +: specs.flatMap {
        case (n, col) => Seq(count(col).as(s"nn_$n"),
          min(col).as(s"min_$n"), max(col).as(s"max_$n"),
          sum(col).as(s"sum_$n"))
      }
      df.agg(aggs.head, aggs.tail: _*)
        .selectExpr("stack(3, " + specs.map { case (n, _) =>
          s"'$n', n_rows, nn_$n, min_$n, max_$n, sum_$n"
        }.mkString(", ") +
          ") AS (column_name, n_rows, n_nonnull, min_v, max_v, sum_v)")
    }
    side(o.filter($"k" % INCR_DELTA_MOD =!= 0))
      .unionAll(side(o.filter($"k" % INCR_DELTA_MOD === 0)))
      .groupBy($"column_name")
      .agg(sum($"n_rows").as("n_rows"), sum($"n_nonnull").as("n_nonnull"),
        min($"min_v").as("min_v"), max($"max_v").as("max_v"),
        sum($"sum_v").as("sum_v"))
      .orderBy($"column_name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "maint_incremental_stats" -> (incrementalStats _),
    "maint_snapshot_read" -> (snapshotRead _),
    "maint_snapshot_diff" -> (snapshotDiff _),
    "maint_zorder_cluster" -> (zorderCluster _),
    "maint_file_skipping" -> (fileSkipping _),
    "maint_zorder_write" -> (zorderWrite _),
    "maint_compact_files" -> (compactFiles _),
    "maint_table_stats" -> (tableStats _),
    "maint_histogram" -> (histogram _),
    "maint_histogram_analyzed" -> (histogramFromStats _),
    "maint_histogram_equiheight" -> (equiheightHistogram _),
  )

  /** The identical interleave as SQL — generated from the same
    * ZORDER_BITS so operator and oracle can never drift. */
  private def zInterleaveSql: String =
    (0 until ZORDER_BITS).map { i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  val oracles: Map[String, String] = Map(
    // ONE full-table pass: the merge(base, delta) == full proof
    "maint_incremental_stats" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS c,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS p
        |  FROM orders),
        |s AS (
        |  SELECT 'k' AS column_name, count(*) AS n_rows,
        |    count(k) AS n_nonnull, min(k) AS min_v, max(k) AS max_v,
        |    sum(k) AS sum_v FROM o
        |  UNION ALL
        |  SELECT 'c', count(*), count(c), min(c), max(c), sum(c) FROM o
        |  UNION ALL
        |  SELECT 'p', count(*), count(p), min(p), max(p), sum(p) FROM o)
        |SELECT column_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_nonnull AS BIGINT) AS n_nonnull,
        |  CAST(min_v AS BIGINT) AS min_v, CAST(max_v AS BIGINT) AS max_v,
        |  CAST(sum_v AS BIGINT) AS sum_v
        |FROM s ORDER BY column_name""".stripMargin,
    // the as-of-v1 state from first principles: v1 updates applied to
    // the base, v2 invisible — if the reader ever listed the directory
    // instead of the manifest, the U2 rows would appear and the hash
    // would catch it
    "maint_snapshot_read" ->
      s"""WITH snapv1 AS (SELECT
         |    CASE WHEN o_orderkey % $SNAP_V1_MOD = 0 THEN 'U1'
         |         ELSE o_orderstatus END AS status,
         |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
         |      + CASE WHEN o_orderkey % $SNAP_V1_MOD = 0 THEN 100
         |             ELSE 0 END AS price_cents
         |  FROM orders)
         |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(price_cents) AS BIGINT) AS sum_cents
         |FROM snapv1 GROUP BY status ORDER BY status""".stripMargin,
    // the v1→v2 transition census from first principles: v2 touches
    // keys ≡ 0 (mod 5); their v1 state was U1 for keys also ≡ 0
    // (mod 7) (delta 250−100) else the base status (delta 250)
    "maint_snapshot_diff" ->
      s"""WITH ch AS (SELECT
         |    CASE WHEN o_orderkey % $SNAP_V1_MOD = 0 THEN 'U1'
         |         ELSE o_orderstatus END AS old_status,
         |    CASE WHEN o_orderkey % $SNAP_V1_MOD = 0 THEN 150
         |         ELSE 250 END AS delta
         |  FROM orders WHERE o_orderkey % $SNAP_V2_MOD = 0)
         |SELECT old_status, 'U2' AS new_status,
         |  CAST(count(*) AS BIGINT) AS n_changed,
         |  CAST(sum(delta) AS BIGINT) AS delta_cents
         |FROM ch GROUP BY old_status
         |ORDER BY old_status, new_status""".stripMargin,
    // pruning is lossless (overlap test) — the contract is the plain
    // filtered scan, blind to the layout
    "maint_file_skipping" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-03-01'
        |  AND o_orderdate < TIMESTAMP '1996-05-01'
        |GROUP BY 1 ORDER BY month""".stripMargin,
    // pure-integer replay: same mask, same day-offset epoch, same
    // generated interleave, same high-bit bucket shift
    "maint_zorder_cluster" ->
      s"""WITH base AS (
         |  SELECT (o_custkey & ${(1L << ZORDER_BITS) - 1}) AS x,
         |    (date_diff('day', DATE '1995-01-01',
         |       CAST(o_orderdate AS DATE)) & ${(1L << ZORDER_BITS) - 1}) AS y
         |  FROM orders),
         |zv AS (SELECT x, y, ($zInterleaveSql) AS zval FROM base)
         |SELECT (zval >> ${2 * ZORDER_BITS - 6}) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y
         |FROM zv GROUP BY 1 ORDER BY bucket""".stripMargin,
    // the rewrite must not change a single row — both stages equal the
    // raw table's totals
    "maint_zorder_write" ->
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |  FROM orders)
        |SELECT stage, n_rows, sum_key, sum_cust, sum_cents
        |FROM (SELECT 'source' AS stage, * FROM t
        |      UNION ALL SELECT 'zordered', * FROM t)
        |ORDER BY stage""".stripMargin,
    // both stages must equal the RAW table's totals — compaction (and
    // the fragmented rewrite before it) must not change a single row
    "maint_compact_files" ->
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(sum(user_id) AS BIGINT) AS sum_user,
        |  round(sum(value), 2) AS sum_value FROM events)
        |SELECT stage, n_rows, sum_id, sum_user, sum_value
        |FROM (SELECT 'compacted' AS stage, * FROM t
        |      UNION ALL SELECT 'fragmented', * FROM t)
        |ORDER BY stage""".stripMargin,
    "maint_histogram" ->
      """SELECT CAST(floor(o_totalprice / 10000.0) AS BIGINT) AS bucket,
        | round(floor(o_totalprice / 10000.0) * 10000.0, 1) AS lo,
        | round((floor(o_totalprice / 10000.0) + 1) * 10000.0, 1) AS hi,
        | CAST(count(*) AS BIGINT) AS n_rows
        |FROM orders GROUP BY 1, 2, 3 ORDER BY bucket""".stripMargin,
    // replays BOTH passes: the stats CTE re-derives the rounded
    // min/max the Spark side took from its tableStats pass, then the
    // identical IEEE bucket/bounds arithmetic
    "maint_histogram_analyzed" ->
      """WITH s AS (SELECT round(min(o_totalprice), 2) AS mn,
        |  round(max(o_totalprice), 2) AS mx FROM orders),
        |p AS (SELECT mn, (mx - mn) / 64 AS w FROM s),
        |b AS (SELECT least(CAST(floor((o.o_totalprice - p.mn) / p.w)
        |    AS BIGINT), 63) AS bucket
        |  FROM orders o, p)
        |SELECT b.bucket, b.bucket * p.w + p.mn AS lo,
        |  (b.bucket + 1) * p.w + p.mn AS hi,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM b, p GROUP BY 1, 2, 3 ORDER BY bucket""".stripMargin,
    // rank-based integer bucket selection replayed exactly: same
    // (value, key) total order, same 0-based rank, same integer
    // `i*B div n` — DuckDB `//` is integer division like Spark's
    // long/long
    "maint_histogram_equiheight" ->
      s"""WITH s AS (SELECT o_totalprice AS v,
         |  row_number() OVER (ORDER BY o_totalprice, o_orderkey) - 1 AS i
         |  FROM orders),
         |n AS (SELECT count(*) AS c FROM orders)
         |SELECT CAST((i * $EQUIHEIGHT_BUCKETS) // n.c AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  round(min(v), 2) AS lo, round(max(v), 2) AS hi
         |FROM s, n GROUP BY 1 ORDER BY bucket""".stripMargin,
    "maint_table_stats" ->
      """SELECT column_name, CAST(n_rows AS BIGINT) AS n_rows,
        | CAST(n_nonnull AS BIGINT) AS n_nonnull,
        | CAST(ndv AS BIGINT) AS ndv, min_v, max_v
        |FROM (
        | SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
        |  count(o_orderkey) AS n_nonnull, count(DISTINCT o_orderkey) AS ndv,
        |  round(min(CAST(o_orderkey AS DOUBLE)), 2) AS min_v,
        |  round(max(CAST(o_orderkey AS DOUBLE)), 2) AS max_v FROM orders
        | UNION ALL
        | SELECT 'o_custkey', count(*), count(o_custkey),
        |  count(DISTINCT o_custkey),
        |  round(min(CAST(o_custkey AS DOUBLE)), 2),
        |  round(max(CAST(o_custkey AS DOUBLE)), 2) FROM orders
        | UNION ALL
        | SELECT 'o_totalprice', count(*), count(o_totalprice),
        |  count(DISTINCT o_totalprice),
        |  round(min(o_totalprice), 2), round(max(o_totalprice), 2)
        | FROM orders)
        |ORDER BY column_name""".stripMargin,
  )
}
