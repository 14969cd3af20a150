package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data-layout operators: the physical-design half of the 100 TB story
  * that the flat fixture parquet can't show — bucketed tables that make
  * the repeated fact-fact join shuffle-free, and date-partitioned
  * layout whose scans prune to the filtered partitions.
  *
  * Both operators STAGE a layout first (write the fixture into the
  * bucketed / partitioned form, memoized per JVM and per sf dir), then
  * run the query against the staged layout. That split mirrors
  * production: the table layout exists once, written by the ingest
  * job; the measured query is the read side. The staged content is
  * row-identical to the source parquet, so the DuckDB oracle runs the
  * same query over the raw fixture views.
  *
  * Scale:
  *  - `q_bucketed_join`: orders and lineitem bucketed 8 ways on their
  *    order key, one file per bucket (the pre-write `repartition(n,
  *    key)` uses the same murmur3-pmod hash as the bucket spec, so
  *    each task holds exactly one bucket). A sort-merge join between
  *    co-bucketed tables needs NO exchange on either side — at 100 TB
  *    this is the difference between re-shuffling both fact tables on
  *    every join and never shuffling them at all. The spec pins zero
  *    shuffle exchanges in the join subtree.
  *  - `q_partition_prune`: events written `partitionBy(day)`; a 7-day
  *    filter must read 7 directories, not 30. Pruning happens at
  *    planning from the partition VALUES (no file footers touched) —
  *    the spec asserts the scan's numFiles metric, not just plan text.
  */
object Layout {

  /** Bucket count for the co-located join. Small because the fixture
    * is; the plan property being pinned (no exchange) is bucket-count
    * independent — production would size buckets to target file size. */
  val NBuckets = 8

  /** Pruned query window: 7 days inside the fixture's 30-day range. */
  val PruneFrom = "2024-01-10"
  val PruneTo = "2024-01-16"

  // The house money-convention casts live in Relational — one home.
  private def dec2(c: Column): Column = Relational.dec2(c)
  private def one: Column = Relational.one

  /** Staging root: per (sf-dir, PROCESS). The memo and stage lock only
    * guard within one JVM — two processes (e.g. bench and verify
    * running together) sharing a dir-keyed root would race: one's
    * mode-overwrite stage deletes bucket/day files out from under the
    * other's running scan (r17 fix, per ADVICE). The pid discriminator
    * gives each process its own root at the cost of re-staging per
    * process — staging is fixture-scale and already paid once per JVM.
    * Lives under java.io.tmpdir, never inside the read-only testdata
    * dir. */
  private def stageTag(dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"${h}p${ProcessHandle.current().pid()}"
  }

  private def stageRoot(dir: String): String = {
    val root = s"${sys.props("java.io.tmpdir")}/graft-layout-${stageTag(dir)}"
    // The pid-keyed root is garbage the moment this process exits (no
    // other process can ever reuse it — that isolation is the point),
    // so clean it on JVM shutdown; without this, every bench/verify
    // run leaves a staged copy of two fact tables in /tmp.
    cleanupRoots.computeIfAbsent(root, r => {
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(
        new java.io.File(r))))
      java.lang.Boolean.TRUE
    })
    root
  }

  private val cleanupRoots =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  private val stagedBuckets = scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private val stagedPartitions = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-(sf dir) staging memo: lock-free probe, then a LOCKED build
    * with a post-lock recheck — a contender that queued behind the
    * stager must never overwrite the layout the winner's query is
    * already reading (the TrieMap.getOrElseUpdate racing-thunk hazard
    * every staged layout here shares). */
  private def stagedPath(cache: scala.collection.concurrent.TrieMap[String, String],
      dir: String)(build: => String): String =
    cache.get(dir).getOrElse(cache.synchronized {
      cache.get(dir).getOrElse { val p = build; cache.put(dir, p); p }
    })

  /** Write orders + lineitem as co-bucketed catalog tables (external,
    * path under the stage root) and return their table names. The
    * pre-write repartition on the bucket key makes each write task own
    * exactly one bucket -> one file per bucket, which is also what
    * lets the bucketed scan surface its sortBy order. */
  private def bucketedTables(spark: SparkSession, dir: String): (String, String) = {
    // The memo caches per JVM, but catalog entries live per SESSION: a
    // second session in the same JVM (fresh in-memory catalog) would
    // resolve the cached names to nothing — detect and re-stage.
    stagedBuckets.get(dir).filter { case (o, l) =>
      spark.catalog.tableExists(o) && spark.catalog.tableExists(l)
    }.getOrElse(stageBuckets(spark, dir))
  }

  private def stageBuckets(spark: SparkSession, dir: String): (String, String) =
    stagedBuckets.synchronized {
      // Post-lock recheck: a contender that queued behind the stager
      // must not overwrite the tables the winner's query is reading.
      val cached = stagedBuckets.get(dir).filter { case (o, l) =>
        spark.catalog.tableExists(o) && spark.catalog.tableExists(l)
      }
      cached.getOrElse {
        val root = stageRoot(dir)
        val tag = stageTag(dir)
        val oTbl = s"graft_bucketed_orders_$tag"
        val lTbl = s"graft_bucketed_lineitem_$tag"
        spark.read.parquet(s"$dir/orders.parquet")
          .repartition(NBuckets, col("o_orderkey"))
          .write.mode("overwrite")
          .bucketBy(NBuckets, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$root/orders_bucketed")
          .saveAsTable(oTbl)
        spark.read.parquet(s"$dir/lineitem.parquet")
          .repartition(NBuckets, col("l_orderkey"))
          .write.mode("overwrite")
          .bucketBy(NBuckets, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$root/lineitem_bucketed")
          .saveAsTable(lTbl)
        stagedBuckets.put(dir, (oTbl, lTbl))
        (oTbl, lTbl)
      }
    }

  /** Write events date-partitioned (day directories) and return the
    * path. One file per day: repartition on the partition column first
    * for the same one-task-one-directory reason as the buckets. */
  private def partitionedEvents(spark: SparkSession, dir: String): String =
    stagedPath(stagedPartitions, dir) {
      val path = s"${stageRoot(dir)}/events_by_day"
      Sessions.events(spark, dir)
        .withColumn("day", to_date(col("ts")))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(path)
      path
    }

  /** The exchange-free co-bucketed join, exposed for the plan spec:
    * lineitem joined to orders on the bucket key, `merge` hints on
    * both sides so the pinned property is the SortMergeJoin's (a
    * broadcast at fixture scale would bypass bucketing and pin
    * nothing — at 100 TB neither fact side broadcasts anyway).
    *
    * A per-task Sort remains above each bucketed scan: Spark >= 3.0
    * only surfaces the sortBy file order behind
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` (multi-file
    * buckets made the claimed ordering unsound). The sort runs
    * per-task over already-sorted single-file buckets — near-linear,
    * no shuffle, no spill pressure — so the session-wide legacy flag
    * is not worth it; the property this layout buys is the absent
    * EXCHANGE, which is what the spec pins. */
  private[graft] def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (oTbl, lTbl) = bucketedTables(spark, dir)
    spark.table(lTbl).hint("merge")
      .join(spark.table(oTbl).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
  }

  /** `q_bucketed_join`: revenue per order priority over the
    * co-bucketed orders ⋈ lineitem. The join subtree has zero
    * exchanges (spec-pinned); the only shuffle in the query is the
    * final 5-group partial aggregate. */
  def qBucketedJoin(spark: SparkSession, dir: String): DataFrame =
    bucketedJoin(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lineitems"),
        sum(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount"))))
          .cast(DecimalType(27, 4)).cast("double").as("revenue"))
      .orderBy("o_orderpriority")

  val qBucketedJoinOracle: String =
    """SELECT o_orderpriority,
      |  count(*) AS n_lineitems,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(27,4)) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** The pruned scan, exposed for the numFiles spec: staged layout,
    * day-range filter. The filter lands in PartitionFilters (the
    * `day` column exists only as a partition value), so file listing
    * at planning time already excludes the other 23 day directories. */
  private[graft] def prunedScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(partitionedEvents(spark, dir))
      .filter(col("day").between(lit(PruneFrom).cast("date"),
        lit(PruneTo).cast("date")))

  /** `q_partition_prune`: per-day, per-type event counts and value
    * sums over a 7-of-30-day window, against the date-partitioned
    * layout. Decimal-exact sums per the house money convention. */
  def qPartitionPrune(spark: SparkSession, dir: String): DataFrame =
    prunedScan(spark, dir)
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast(DecimalType(18, 2))
          .cast("double").as("sum_value"))
      .orderBy("day", "event_type")

  val qPartitionPruneOracle: String =
    s"""SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
       |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
       |FROM events
       |WHERE CAST(ts AS DATE) BETWEEN DATE '$PruneFrom' AND DATE '$PruneTo'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------ Z-order clustering

  /** Bits per dimension of the Z-value. 16 covers both fixture dims
    * with headroom (user_id ≤ 1499, epoch-day ≈ 19750 < 2¹⁵); values
    * past 2¹⁶ would alias into the low bits — identically in engine
    * and oracle (both apply the same formula), degrading CLUSTERING
    * only, never correctness (pruning consults real column stats and
    * the row predicate re-applies). */
  val ZBits = 16

  /** File count of the z-ordered layout — the skipping granularity.
    * Production sizes this to target file/row-group size; the pruning
    * property being pinned is count-independent. */
  val ZFiles = 32

  /** The `q_zorder_scan` predicate box: users 3-7 × epoch-days
    * 19730-19736 (2024-01-08..14) — non-empty at every SF (sf0.001
    * has users 0-14), ~0.1% selective at sf0.1. */
  val ZUserLo = 3L; val ZUserHi = 7L
  val ZDayLo = 19730; val ZDayHi = 19736

  /** Default manifest stat dimensions — the columns of the house
    * z-curve. Every manifest API takes an explicit `statCols` so a
    * second layout clustered on DIFFERENT columns carries its own
    * stats; the manifest schema is self-describing (`<col>__min` /
    * `<col>__max` pairs), so the read side recovers the dimensions
    * from the manifest itself and never needs this list. */
  val ZDims: Seq[String] = Seq("user_id", "day_idx")

  /** Days since epoch as an INT column — the timestamp dimension in a
    * stats-friendly physical type (Spark writes timestamps as INT96 by
    * default, whose parquet statistics are unusable; an int day index
    * carries exact min/max in every footer). */
  private[graft] def dayIdx: Column =
    datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))

  /** Morton/Z-value of two [[ZBits]]-bit dimensions: bit i of x lands
    * at position 2i, bit i of y at 2i+1. Built from codegen'd
    * built-ins (shifts/and/sum — the bit positions are disjoint, so
    * `+` IS `|`), no custom expression needed; the oracle replays the
    * identical formula term-for-term. */
  private[graft] def zValue(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** N-dimensional Morton interleave: bit i of dimension j lands at
    * position i·d + j, so for d = 2 this IS [[zValue]] bit-for-bit
    * (spec-pinned). `bitsPerDim` caps at 62/d so the curve always fits
    * a positive long; values past 2^bitsPerDim alias into the low bits
    * — identically for every row, degrading CLUSTERING only, never
    * correctness (pruning consults real footer stats and the row
    * predicate re-applies). Same clustering caveat for negatives. */
  private[graft] def zValueN(dims: Seq[Column], bits: Int = ZBits): Column = {
    require(dims.nonEmpty, "zValueN needs at least one dimension")
    val d = dims.length
    val b = math.min(bits, 62 / d)
    (for { i <- 0 until b; (dim, j) <- dims.zipWithIndex } yield
      shiftleft(shiftright(dim, i).bitwiseAND(lit(1L)), i * d + j))
      .reduce(_ + _)
  }

  private def zTermsSql(x: String, y: String): String =
    (0 until ZBits).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** `layout_zorder`: every event's (day_idx, z) — the clustering key
    * itself, value-checked so the engine and oracle agree bit-for-bit
    * on the curve the layout sorts by. */
  def layoutZorder(spark: SparkSession, dir: String): DataFrame =
    Sessions.events(spark, dir)
      .select(col("event_id"), col("user_id"), dayIdx.as("day_idx"))
      .select(col("event_id"), col("user_id"), col("day_idx"),
        zValue(col("user_id"), col("day_idx")).as("z"))
      .orderBy("event_id")

  val layoutZorderOracle: String =
    s"""SELECT event_id, user_id,
       |       CAST(ts AS DATE) - DATE '1970-01-01' AS day_idx,
       |       ${zTermsSql("user_id", "(CAST(ts AS DATE) - DATE '1970-01-01')")} AS z
       |FROM events ORDER BY event_id""".stripMargin

  private val stagedZorder = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Write events Z-ORDERED on (user_id, day): range-partition on the
    * z-value into [[ZFiles]] files, sort within each — every file then
    * covers one contiguous z-range, i.e. a small RECTANGLE-ish region
    * of the (user, day) plane, so its footer min/max on BOTH columns
    * is tight. This is the multi-dimensional clustering every lakehouse
    * format (Delta OPTIMIZE ZORDER BY, Iceberg sort orders) buys: a
    * single sort key can make only ONE column's stats tight; the
    * space-filling curve makes predicates on EITHER OR BOTH dimensions
    * skip files. */
  private[graft] def zorderedEvents(spark: SparkSession, dir: String): String =
    stagedPath(stagedZorder, dir) {
      val path = s"${stageRoot(dir)}/events_zorder"
      Sessions.events(spark, dir)
        .withColumn("day_idx", dayIdx)
        .withColumn("z", zValue(col("user_id"), col("day_idx")))
        .repartitionByRange(ZFiles, col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite").parquet(path)
      // The stats manifest is written WITH the layout — the min/max
      // are known the moment the files land, and a layout that moves
      // carries its manifest with it (the lakehouse-format shape).
      writeManifest(spark, path)
      path
    }

  /** PUBLIC write surface for a Z-ordered layout (r20): what
    * [[stageZorder]] hand-rolls for the fixture dims, as the API a
    * user calls for ANY dimension set — `zorderWrite(spark, df, path,
    * Seq("a", "b", "c"))` writes `df` clustered on the N-dim Morton
    * curve of those columns and commits the manifest with the same
    * columns as stat dimensions, so `spark.read.format("graftz")`
    * prunes on every one of them immediately. The curve column is
    * internal — it never lands in the written schema (projecting it
    * away after the range-partition + sort preserves both).
    *
    * Dimensions must be integral (the Morton interleave is bit
    * arithmetic and the manifest carries long bounds) — rejected
    * loudly; derive an int first for anything else (`dayIdx`-style
    * for timestamps). `bitsPerDim` defaults to the widest curve that
    * fits a positive long (62/d bits per dimension — 62 for one dim,
    * 31 for two, 20 for three), so wide id columns cluster on their
    * HIGH bits instead of silently aliasing at the house fixture
    * width; pass it explicitly only to trade curve resolution for
    * cheaper expressions on provably narrow dims. At 100 TB: one
    * range-exchange on the curve (sampled bounds, AQE-compatible), a
    * per-task sort, and the O(files) distributed footer job — the
    * identical cost profile as the fixture stage, file count set by
    * `nFiles` to target file/row-group size. */
  def zorderWrite(spark: SparkSession, df: DataFrame, path: String,
      dims: Seq[String], nFiles: Int = ZFiles, bitsPerDim: Int = 62): Unit = {
    require(dims.nonEmpty, "zorderWrite needs at least one dimension")
    val missing = dims.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"zorderWrite dims absent from the frame: ${missing.mkString(", ")}")
    val integral = Set("byte", "short", "integer", "long")
    val bad = dims.filterNot(c => integral.contains(df.schema(c).dataType.typeName))
    require(bad.isEmpty,
      s"zorderWrite dims must be integral (byte/short/int/long), got: " +
        bad.map(c => s"$c: ${df.schema(c).dataType.typeName}").mkString(", ") +
        " — derive an int dimension first (e.g. a day/hour index for timestamps)")
    val zc = "__graft_z"
    // withColumn REPLACES an existing column of the same name — a user
    // column called __graft_z would be silently overwritten with curve
    // values and written back corrupted; refuse instead
    require(!df.columns.contains(zc),
      s"zorderWrite: the frame already carries a column named $zc, " +
        "which collides with the internal curve column — rename it first")
    df.withColumn(zc, zValueN(dims.map(col), bitsPerDim))
      .repartitionByRange(nFiles, col(zc))
      .sortWithinPartitions(zc)
      .select(df.columns.map(col): _*)
      .write.mode("overwrite").parquet(path)
    writeManifest(spark, path, dims)
  }

  // -------------------------------------------- Z-order stats manifest

  /** Manifest directory name inside the layout. Underscore-prefixed so
    * every parquet reader (Spark's FileIndex, DuckDB's glob) treats it
    * as metadata and skips it when scanning the layout itself. */
  val ManifestDir = "_graft_manifest"

  /** Driver-side footer reads by the LEGACY pruning path — the spec's
    * hook for asserting the manifest path performs ZERO of them. */
  private[graft] val driverFooterReads = new java.util.concurrent.atomic.AtomicLong

  /** Incremental layout maintenance (r19): append a DELTA of events to
    * an existing z-ordered layout without rewriting it — the
    * FAISS-add / OPTIMIZE-append discipline the index family already
    * follows. The delta is z-sorted into its own file set under the
    * frozen curve dials ([[ZBits]] has no corpus-dependent state, so
    * extension is trivially curve-compatible), appended to the layout,
    * and the manifest is REWRITTEN as existing rows ∪ a distributed
    * footer scan of ONLY the added files — manifest maintenance cost
    * is O(delta files), never a full-layout footer sweep.
    *
    * Single-writer maintenance op (the table-format OPTIMIZE
    * contract). The manifest rewrite is not atomic against concurrent
    * readers: a reader that catches the window sees no _SUCCESS and
    * [[loadManifest]] falls back to the distributed footer scan —
    * degraded cost, never a wrong result. Returns the added file
    * names (observability + the spec's delta-pruning assertion).
    *
    * `deltaFiles` sizes the delta's file count — production sizes to
    * the same target bytes/file as the base; the pruning property is
    * count-independent.
    *
    * `gen` names the extension GENERATION (`extend-g<gen>-<k>.parquet`,
    * deterministic contiguous names like the ingest path) and makes a
    * RETRY idempotent: a crash between the data landing and the
    * manifest swap leaves files the committed manifest never lists
    * (invisible to the pruned scan — never a torn read), and the retry
    * probe-deletes its own prior generation before rewriting, so a raw
    * directory scan can never see the delta twice.
    *
    * Distinct extensions of one layout MUST use distinct gens, and the
    * rule is enforced, not documented: `gen` has no default, and a gen
    * whose files already exist is refused unless `retry = true` — a
    * second distinct extension accidentally reusing a gen would
    * otherwise silently delete the first one's committed data (r19
    * ADVICE). A retry of a COMPLETED extension (same gen, committed
    * manifest) first compensates the manifest — drops this
    * generation's rows so its files go invisible — and only then
    * probe-deletes them, so a concurrent reader never prunes to a
    * deleted path. */
  private[graft] def zorderExtendRows(spark: SparkSession, path: String,
      newEvents: DataFrame, deltaFiles: Int = math.max(1, ZFiles / 4),
      gen: Long, retry: Boolean = false,
      statCols: Seq[String] = ZDims): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    val prefix = s"extend-g$gen-"
    val prior = fs.exists(new org.apache.hadoop.fs.Path(root, s"${prefix}0.parquet"))
    require(!prior || retry,
      s"extend generation $gen already has data files under $path; " +
        "distinct extensions must use distinct gens — pass retry=true " +
        "only when REPLAYING this generation after a crash")
    // manifest compensation BEFORE any data-file delete: if a prior
    // try of this gen committed (its rows live in the manifest), drop
    // them first so the files are invisible when they vanish — and
    // delete exactly the files those rows named (a later DELETE may
    // have punched gaps into the contiguous numbering)
    dropManifestRows(spark, path, prefix).foreach { f =>
      fs.delete(new org.apache.hadoop.fs.Path(f), false)
    }
    // retry: drop this generation's remaining (uncommitted) files by
    // their deterministic contiguous names (never a directory listing)
    var k0 = 0
    while (fs.delete(new org.apache.hadoop.fs.Path(root, s"$prefix$k0.parquet"), false)) {
      k0 += 1
    }
    // capture the BASE manifest before the append: the unmanifested
    // fallback lists the directory eagerly, and listing after the
    // append would double-count the added files in the union below
    val baseManifest = loadManifest(spark, path, statCols)
      .where(!fileNameHasPrefix(prefix)) // stale rows of a crashed prior try
    val added = stageRenameIn(fs, root, s".extend_tmp_g$gen", prefix, tmp =>
      newEvents
        .withColumn("day_idx", dayIdx)
        .withColumn("z", zValue(col("user_id"), col("day_idx")))
        .repartitionByRange(deltaFiles, col("z"))
        .sortWithinPartitions("z")
        .write.parquet(tmp.toString))
    swapManifest(spark, path,
      baseManifest.unionByName(footerManifestFor(spark, added, statCols)))
    added
  }

  /** Generation/batch-prefix predicate on manifest rows, matched
    * against the file's FINAL path component only. A substring match
    * on the full path would wipe the ENTIRE manifest when the layout
    * ROOT itself contains the marker (e.g. a layout under
    * `/data/ingest-b7-rerun/`): every row's path starts with the root,
    * so the replay compensation would commit an empty base — silent
    * loss of all committed data from every pruned read. */
  private def fileNameHasPrefix(prefix: String): Column =
    substring_index(col("file"), "/", -1).startsWith(prefix)

  /** Compensate a COMMITTED manifest for a replay: drop every row whose
    * file NAME starts with `prefix` (a generation/batch file prefix)
    * via a full swap, returning the dropped rows' file names so the
    * caller can delete exactly the files the manifest listed — a
    * contiguous-name probe alone stops at the first gap, and a DELETE
    * that dropped/rewrote some of a generation's files leaves gaps.
    * No-op (Nil) when the manifest is absent/uncommitted (the
    * footer-scan fallback always reflects directory truth) or already
    * clean — so the O(manifest) swap is paid only on the rare
    * replay-after-compaction path, never per batch. */
  private def dropManifestRows(spark: SparkSession, path: String,
      prefix: String): Seq[String] = {
    val mf = new org.apache.hadoop.fs.Path(s"$path/$ManifestDir")
    val fs = mf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(mf, "_SUCCESS"))) {
      val rows = validateManifestSchema(spark.read.parquet(mf.toString), path)
      val hit = rows.where(fileNameHasPrefix(prefix))
        .select(col("file")).distinct().collect().map(_.getString(0)).toSeq
      if (hit.nonEmpty)
        swapManifest(spark, path, rows.where(!fileNameHasPrefix(prefix)))
      hit
    } else Nil
  }

  /** Replace the manifest with `merged` WITHOUT routing its rows
    * through the driver: the merged plan (which reads the OLD manifest
    * parquet) writes to a dot-temp dir first — Spark cannot read and
    * overwrite one path in a single job — then the old dir drops and
    * the temp renames in. A reader catching the swap window sees no
    * _SUCCESS and [[loadManifest]] falls back to the distributed
    * footer scan: degraded cost, never a torn read. */
  private def swapManifest(spark: SparkSession, path: String,
      merged: DataFrame): Unit = {
    // mixed-schema-generation guard (maintenance path only — one
    // metadata-scale probe): a base segment written by an older build
    // null-fills the inventory columns under the merged read, and
    // committing those rows would later plan zero-length FileStatus
    // entries — base files silently vanishing from graftz reads
    require(merged.where(col("file").isNull || col("bytes").isNull ||
        col("mtime").isNull).isEmpty,
      s"manifest merge for $path carries null inventory columns — the " +
        "manifest dir mixes schema generations; rebuild it with " +
        "Layout.writeManifest to fold every segment into the current schema")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = new org.apache.hadoop.fs.Path(s"$path/$ManifestDir")
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.${ManifestDir}_tmp_${java.util.UUID.randomUUID()}")
    merged.coalesce(1).write.parquet(tmp.toString)
    fs.delete(mf, true)
    require(fs.rename(tmp, mf), s"manifest swap failed: $tmp -> $mf")
  }

  /** Durable registry of every NON-EMPTY batch id ever committed into
    * the layout — the txn-version record that closes the at-least-once
    * replay window once a COMPACTION has absorbed a batch's rows into
    * files that carry no batch lineage (the one maintenance op that
    * breaks the name-prefix replay discipline; a DELETE's in-place
    * rewrite preserves it). Empty batches are never registered: they
    * have no rows to duplicate and their replay is always a harmless
    * no-op. A top-level dot file: invisible to every data listing
    * (not `.parquet`), outside the manifest dir (so the swap never
    * destroys it), ignored by the vacuum. A lost registry only widens
    * back to no-refusal behavior, never corrupts data — and the
    * read side falls back to the staged temp copy, so even the swap's
    * delete-then-rename instant cannot lose it. */
  private def batchRegistry(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, ".graft_batches")

  private def batchRegistryTmp(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, ".graft_batches_tmp")

  private def readBatchRegistry(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Set[Long] = {
    // the tmp copy is COMPLETE before the main file is ever deleted,
    // so falling back to it closes the swap's crash instant
    val p = if (fs.exists(batchRegistry(root))) batchRegistry(root)
      else if (fs.exists(batchRegistryTmp(root))) batchRegistryTmp(root)
      else return Set.empty
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.toLong).toSet
    finally in.close()
  }

  private def addToBatchRegistry(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, id: Long): Unit = {
    val prior = readBatchRegistry(fs, root)
    if (prior.contains(id)) return // a replay re-registers nothing
    val out = fs.create(batchRegistryTmp(root), true)
    out.write((prior + id).toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    out.close()
    fs.delete(batchRegistry(root), false)
    require(fs.rename(batchRegistryTmp(root), batchRegistry(root)),
      "batch registry swap failed")
  }

  /** In-flight marker a replaying ingest writes BEFORE its destructive
    * steps: a crash mid-replay (lineage already removed, re-land not
    * yet committed) would otherwise be indistinguishable from
    * compaction absorption, and the guard would permanently refuse the
    * recovery retry. Removed at commit; [[zorderCompact]] clears any
    * stale markers when it closes replay windows, so a marker
    * abandoned across a (schedule-violating) compaction cannot bypass
    * the guard afterwards. */
  private def ingestMarker(root: org.apache.hadoop.fs.Path, id: Long) =
    new org.apache.hadoop.fs.Path(root, s".graft_ingest_b$id")

  /** IDEMPOTENT batch ingest into a z-ordered layout — the unit the
    * streaming dual replays. The batch's files carry DETERMINISTIC
    * names (`ingest-b<batchId>-<k>.parquet`, staged to a dot-temp dir
    * and renamed in), so a replayed micro-batch (foreachBatch is
    * at-least-once after a crash) first deletes its own prior
    * generation and rewrites it — duplicate rows cannot survive a
    * replay. The manifest rewrite excludes the batch's rows and adds a
    * fresh O(delta) footer scan of the renamed files.
    *
    * Snapshot semantics fall out of manifest-only pruning: a reader
    * sees exactly the manifest-listed files, so files renamed in but
    * not yet manifested are INVISIBLE (bounded staleness, never a
    * torn read) — the table-format commit discipline with the
    * manifest as the log head.
    *
    * Manifest maintenance is O(delta), not O(layout): the manifest
    * DIRECTORY is a set of parquet SEGMENTS ([[loadManifest]] reads
    * them all — one base segment from [[writeManifest]] plus one
    * batch-keyed segment per ingested batch), so a micro-batch writes
    * only its own `ingest-b<id>.parquet` segment instead of rewriting
    * the whole manifest per batch — the log-segment discipline; the
    * batch-keyed name is also what makes the replay idempotent at the
    * manifest level (the replay replaces its own segment). Segment
    * count grows with batches; [[zorderExtendRows]]' full swap is the
    * compaction.
    *
    * Interaction with [[zorderDeleteBox]]: a replay re-lands the
    * batch's ORIGINAL rows — if a delete purged rows of this batch
    * between the original landing and the replay, the replay
    * resurrects them (and the manifest-assisted cleanup above removes
    * the delete's rewrites of this batch's files, dropping the other
    * survivors they carried). Schedule deletes only past the stream's
    * committed checkpoint — the single-writer discipline compaction
    * already requires. */
  private[graft] def zorderIngestBatch(spark: SparkSession, path: String,
      batchId: Long, newEvents: DataFrame,
      deltaFiles: Int = math.max(1, ZFiles / 8),
      statCols: Seq[String] = ZDims): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    val prefix = s"ingest-b$batchId-"
    val segment = new org.apache.hadoop.fs.Path(
      s"$path/$ManifestDir/ingest-b$batchId.parquet")
    // replay-window guard: a batch this layout already committed whose
    // lineage has vanished ENTIRELY — no segment, no manifest rows, no
    // data files under its prefix, and no in-flight marker of its own
    // crashed replay — was absorbed by a compaction (its rows live on
    // in files the replay cannot replace) or fully purged by a delete
    // (re-landing would resurrect what GDPR removed); either way a
    // re-land would silently duplicate/resurrect rows, so it is
    // refused. Replays BEFORE maintenance (segment present), after
    // folds/deletes that keep any prefix lineage, or RETRIES of a
    // replay that crashed mid-flight (marker present) replace their
    // own files exactly as before.
    if (readBatchRegistry(fs, root).contains(batchId) && !fs.exists(segment) &&
        !fs.exists(new org.apache.hadoop.fs.Path(root, s"${prefix}0.parquet")) &&
        !fs.exists(ingestMarker(root, batchId))) {
      val mfP = new org.apache.hadoop.fs.Path(s"$path/$ManifestDir")
      val hasRows =
        fs.exists(new org.apache.hadoop.fs.Path(mfP, "_SUCCESS")) &&
          !validateManifestSchema(spark.read.parquet(mfP.toString), path)
            .where(fileNameHasPrefix(prefix)).isEmpty
      require(hasRows,
        s"batch $batchId was committed into $path and its file lineage " +
          "has since been absorbed (compaction) or fully purged (delete) " +
          "— the at-least-once replay window is closed; re-landing would " +
          "duplicate or resurrect rows. Schedule maintenance only past " +
          "the stream's committed checkpoint.")
    }
    // in-flight marker BEFORE any destructive step: a crash between
    // the lineage removal below and the commit must stay retryable
    fs.create(ingestMarker(root, batchId), true).close()
    // replay: this batch's manifest segment drops FIRST (its data
    // files become invisible to readers), then its prior data files —
    // probed by their DETERMINISTIC contiguous names (k = 0,1,…),
    // never a directory listing: a per-micro-batch listStatus would be
    // O(layout files), the very cost the manifest removed from reads
    if (fs.exists(segment)) fs.delete(segment, false)
    // replay AFTER COMPACTION (r19 ADVICE): writeManifest /
    // zorderExtendRows fold every segment — including this batch's —
    // into the base, so dropping the segment above no longer makes the
    // batch's data invisible; the base rows must be compensated too,
    // BEFORE the probe-delete below removes files the committed
    // manifest still lists. No-op (one isEmpty probe of a
    // metadata-scale frame) on the common uncompacted replay.
    dropManifestRows(spark, path, prefix).foreach { f =>
      // delete exactly the files the manifest listed for this batch —
      // a later zorderDeleteBox may have dropped/rewritten SOME of
      // them, and the contiguous probe below stops at the first gap
      fs.delete(new org.apache.hadoop.fs.Path(f), false)
    }
    var k = 0
    while (fs.delete(new org.apache.hadoop.fs.Path(root, s"$prefix$k.parquet"), false)) {
      k += 1
    }
    val added = stageRenameIn(fs, root, s".ingest_tmp_b$batchId", prefix, tmp =>
      newEvents
        .withColumn("day_idx", dayIdx)
        .withColumn("z", zValue(col("user_id"), col("day_idx")))
        .repartitionByRange(deltaFiles, col("z"))
        .sortWithinPartitions("z")
        .write.parquet(tmp.toString))
    // O(delta) segment: stats of the added files only, staged and
    // renamed to the batch-keyed single-file segment
    val segTmp = new org.apache.hadoop.fs.Path(root, s".ingest_seg_tmp_b$batchId")
    if (fs.exists(segTmp)) fs.delete(segTmp, true)
    footerManifestFor(spark, added, statCols).coalesce(1).write.parquet(segTmp.toString)
    val segPart = fs.listStatus(segTmp)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") && st.getLen > 0)
    require(segPart.length == 1, s"expected one segment part, got ${segPart.length}")
    fs.mkdirs(segment.getParent) // unmanifested layout: readers stay on
                                 // the footer-scan fallback (no _SUCCESS)
                                 // until writeManifest/extend compacts
    require(fs.rename(segPart.head.getPath, segment),
      s"segment rename failed -> $segment")
    fs.delete(segTmp, true)
    // registered AFTER the segment rename (the prefix files are already
    // on disk, so a crash in this gap leaves the marker and lineage —
    // the retry path); empty batches never register (nothing to
    // duplicate, their replay is always a harmless no-op). Row-level
    // emptiness, not file count: a 0-row batch still writes a
    // footer-only parquet file that passes the length filter.
    if (added.nonEmpty && !newEvents.isEmpty) addToBatchRegistry(fs, root, batchId)
    fs.delete(ingestMarker(root, batchId), false)
    added
  }

  /** Result of [[zorderDeleteBox]]: whole files dropped without being
    * read, straddling files rewritten, files the box never touched —
    * and, on a replay of an already-committed generation, the orphan
    * data files the vacuum removed. */
  case class ZDeleteStats(filesDropped: Int, filesRewritten: Int,
      filesUntouched: Int, vacuumed: Int = 0)

  /** Per-row-group overlap predicate against a conjunctive box over a
    * manifest's self-describing stat columns — shared by the pruned
    * scan and the delete classifier. A null stat or an unknown
    * dimension widens to always-overlap: pruning may only ever skip a
    * file it can PROVE empty of matches. */
  private def overlapsBox(have: Set[String],
      bounds: Seq[(String, Long, Long)]): Column =
    bounds.map { case (c, lo, hi) =>
      if (have.contains(s"${c}__min"))
        coalesce(col(s"${c}__max"), lit(Long.MaxValue)) >= lo &&
          coalesce(col(s"${c}__min"), lit(Long.MinValue)) <= hi
      else lit(true)
    }.reduce(_ && _)

  /** Stage a frame into `.tmpName` under the layout root, then rename
    * its non-empty parquet parts in as `prefix0.parquet, prefix1…` —
    * the deterministic contiguous naming every maintenance op's replay
    * relies on. Shared by extend, ingest and delete. Returns the
    * QUALIFIED destination names (what listStatus yields — manifest
    * rows must compare equal across both builders). */
  private def stageRenameIn(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, tmpName: String, prefix: String,
      write: org.apache.hadoop.fs.Path => Unit): Seq[String] = {
    val tmp = new org.apache.hadoop.fs.Path(root, tmpName)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    write(tmp)
    val staged = fs.listStatus(tmp)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
        st.getLen > 0)
      .map(_.getPath).sortBy(_.getName)
    val added = staged.zipWithIndex.map { case (p, k) =>
      val dest = new org.apache.hadoop.fs.Path(root, s"$prefix$k.parquet")
      require(fs.rename(p, dest), s"stage rename failed: $p -> $dest")
      fs.makeQualified(dest).toString
    }.toSeq
    fs.delete(tmp, true)
    added
  }

  /** Delete every top-level data file the COMMITTED manifest does not
    * list. Unlisted files are invisible to every manifest reader —
    * garbage from a crashed prior maintenance op (a delete that died
    * between its swap and its old-file cleanup, an extend/ingest that
    * died between rename-in and swap; the single-writer contract means
    * no live op owns them, and a crashed op's retry re-stages from its
    * own source). Returns the count removed. */
  private def vacuumUnlisted(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, listed: Set[String]): Int = {
    val orphans = fs.listStatus(root)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => fs.makeQualified(st.getPath))
      .filterNot(p => listed.contains(p.toString))
    orphans.foreach(fs.delete(_, false))
    orphans.length
  }

  /** Name of the dot-directory that holds originals mid-replacement —
    * invisible to the footer-scan fallback (top-level files only) and
    * to every parquet directory read (dot-prefixed). */
  private val TrashDir = ".graft_trash"

  /** Prologue shared by delete and the standalone vacuum: restore any
    * original stranded mid-replacement (src missing, trash populated)
    * and clean completed replacements' leftovers. */
  private def restoreTrash(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val trash = new org.apache.hadoop.fs.Path(root, TrashDir)
    if (fs.exists(trash)) fs.listStatus(trash).foreach { t =>
      val orig = new org.apache.hadoop.fs.Path(root, t.getPath.getName)
      if (!fs.exists(orig))
        require(fs.rename(t.getPath, orig), s"trash restore failed: ${t.getPath}")
      else fs.delete(t.getPath, false)
    }
  }

  /** VACUUM the layout as a standalone verb: run the two crash
    * prologues every delete/compact already runs — restore/clean the
    * replacement trash, then remove every top-level data file the
    * COMMITTED manifest does not list (a crashed prior op's invisible
    * garbage). A no-op (0) on an unmanifested layout, where directory
    * truth is the only truth and nothing can be proven garbage.
    * Returns the orphan count removed. Single-writer maintenance op
    * like its siblings. */
  def zorderVacuum(spark: SparkSession, path: String): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    restoreTrash(fs, root)
    val mfDir = new org.apache.hadoop.fs.Path(s"$path/$ManifestDir")
    if (!fs.exists(new org.apache.hadoop.fs.Path(mfDir, "_SUCCESS"))) 0
    else {
      val listed = validateManifestSchema(spark.read.parquet(mfDir.toString), path)
        .select(col("file")).distinct().collect().map(_.getString(0)).toSet
      vacuumUnlisted(fs, root, listed)
    }
  }

  /** OPTIMIZE the z-layout: rewrite every listed data file into
    * `nFiles` freshly z-clustered ones — the small-file compaction a
    * micro-batch ingest stream needs (each `zorderIngestBatch` lands
    * its own small file set; after thousands of batches the layout is
    * all boundary files and the curve's locality is gone; this is
    * Delta's OPTIMIZE ZORDER BY / Iceberg rewrite_data_files).
    * Clusters on the manifest's own stat dimensions (or `statCols` for
    * an unmanifested backfill) and commits a single-segment manifest —
    * also the DATA-file counterpart of the manifest-segment compaction
    * `writeManifest` performs.
    *
    * Same commit discipline as the sibling ops: new files stage under
    * a dot-temp and rename in as `compact-g<gen>-k` (unlisted —
    * invisible to manifest readers), the swap flips the manifest to
    * exactly the new files, the old files delete last. Crash before
    * the swap → the new files are unlisted orphans ([[zorderDeleteBox]]'s
    * start-vacuum or a retry of this gen removes them); crash after →
    * the OLD files are the unlisted orphans, same cleanup. Distinct
    * compactions need distinct gens (the extend rule, enforced);
    * `retry = true` replays a crashed gen. Single-writer maintenance
    * op; the fallback reader's double-count caveat during the swap
    * instant is [[zorderDeleteBox]]'s, documented there. Compaction
    * ABSORBS every batch's rows into lineage-free files, closing those
    * batches' at-least-once replay windows — [[zorderIngestBatch]]
    * refuses a replay of an absorbed batch (the batch registry), so
    * run compaction only past the stream's committed checkpoint. */
  def zorderCompact(spark: SparkSession, path: String, gen: Long,
      nFiles: Int = ZFiles, retry: Boolean = false,
      statCols: Seq[String] = ZDims): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    val prefix = s"compact-g$gen-"
    val mfDir = new org.apache.hadoop.fs.Path(s"$path/$ManifestDir")
    val committed = fs.exists(new org.apache.hadoop.fs.Path(mfDir, "_SUCCESS"))
    if (!committed) {
      // unmanifested layout: the footer fallback below lists the
      // directory, so a crashed prior try's leftovers would read as
      // DATA — probe-delete them first, behind the extend-rule guard
      val prior = fs.exists(new org.apache.hadoop.fs.Path(root, s"${prefix}0.parquet"))
      require(!prior || retry,
        s"compact generation $gen already has data files under $path; " +
          "distinct compactions must use distinct gens — pass retry=true " +
          "only when REPLAYING this generation after a crash")
      var k0 = 0
      while (fs.delete(new org.apache.hadoop.fs.Path(root, s"$prefix$k0.parquet"), false)) {
        k0 += 1
      }
    }
    val mf =
      if (committed) validateManifestSchema(spark.read.parquet(mfDir.toString), path)
      else loadManifest(spark, path, statCols)
    val listed = mf.select(col("file")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    // a committed compact of this gen means `listed` IS this gen's
    // output — re-running it would rewrite its own files to the same
    // names mid-read (data loss); refused, and the retry is the
    // orphan vacuum only. A CRASHED gen left only unlisted leftovers
    // (removed by the vacuum below), safe to redo.
    val genCommitted = listed.exists(
      f => f.substring(f.lastIndexOf('/') + 1).startsWith(prefix))
    require(!genCommitted || retry,
      s"compact generation $gen is already committed under $path; " +
        "distinct compactions must use distinct gens — retry=true " +
        "only completes a crashed gen's orphan vacuum")
    if (committed) { vacuumUnlisted(fs, root, listed.toSet); () }
    if (genCommitted)
      return // retry of a COMPLETED compact: the vacuum above was the work
    val dims = mf.columns.filter(_.endsWith("__min"))
      .map(_.stripSuffix("__min")).toSeq
    val src = spark.read.parquet(listed.toIndexedSeq: _*)
    val zc = "__graft_z"
    val added = stageRenameIn(fs, root, s".compact_tmp_g$gen", prefix, tmp =>
      src.withColumn(zc, zValueN(dims.map(col), 62))
        .repartitionByRange(nFiles, col(zc))
        .sortWithinPartitions(zc)
        .select(src.columns.map(col): _*)
        .write.parquet(tmp.toString))
    swapManifest(spark, path, footerManifestFor(spark, added, dims))
    listed.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
    // compaction closes every batch's replay window — clear any stale
    // in-flight marker so an abandoned crashed replay cannot bypass
    // the guard after its rows were absorbed
    fs.listStatus(root)
      .filter(st => st.isFile && st.getPath.getName.startsWith(".graft_ingest_b"))
      .foreach(st => fs.delete(st.getPath, false))
  }

  /** DELETE FROM the z-ordered layout: remove every row inside the
    * conjunctive bound box — the GDPR / right-to-be-forgotten shape,
    * and the reason a training-data layout z-orders on user id in the
    * first place. The manifest classifies every file WITHOUT reading
    * it: a file whose every row group provably sits inside the box on
    * every bounded dimension is DROPPED whole (never scanned — at
    * 100 TB a user purge touches metadata plus the straddling
    * boundary files only); a file any of whose row groups straddles
    * the box is REWRITTEN IN PLACE without its matching rows — the
    * replacement keeps the file's NAME, so file lineage survives
    * (an ingest batch's `ingest-b<id>-k` replay discipline keeps
    * working, and old and new content never coexist under different
    * names, so the footer-scan fallback can never double-count); a
    * file the box cannot reach is untouched, byte-for-byte. NULL
    * dimension values never match a box (SQL BETWEEN semantics), so
    * rewritten files keep their null-dimension rows.
    *
    * IDEMPOTENT BY CONTENT — no generation bookkeeping: re-running
    * any delete converges (already-purged boxes classify as
    * no-overlap or filter to a no-op), so there is no gen to reuse
    * and no retry flag. Crash recovery is two prologues every
    * invocation runs:
    *
    *  - TRASH RESTORE: replacement is rename(src → .graft_trash/name)
    *    then rename(staged → src); a crash between the pair leaves
    *    the trash copy with src missing — restored before anything
    *    else (no data-loss window: the original outlives the swap in
    *    the trash until the final cleanup); a trash entry whose src
    *    exists is a completed replacement's leftover — removed;
    *  - START-VACUUM ([[vacuumUnlisted]], committed manifests only):
    *    a crash between the manifest swap and the dropped-file
    *    cleanup leaves unlisted orphans — invisible to every manifest
    *    reader and removed by the NEXT maintenance touch, so a
    *    drop-only purge always completes without any marker of its
    *    own.
    *
    * Commit order: stage every replacement under a dot-temp →
    * per-file trash-and-rename-in (a manifest reader catching the
    * instant between the pair transiently misses that one file —
    * bounded staleness; one holding the pre-swap snapshot reads the
    * already-filtered replacement, fewer rows, never wrong ones) →
    * manifest swap (the atomic switch: straddler rows re-stated from
    * fresh footers, dropped files' rows gone) → delete dropped files
    * and trash. Single-writer maintenance op (the extend/ingest
    * contract); with streaming ingest, schedule deletes only past the
    * stream's committed checkpoint — a later replay of a touched
    * batch re-lands its ORIGINAL rows (resurrecting purged ones; the
    * lineage-preserving rewrite means it at least replaces its own
    * files exactly, duplicating nothing).
    *
    * A bound on a dimension the manifest carries no stats for proves
    * nothing: every file classifies as straddling and rewrites —
    * degraded cost, never a missed or extra deletion (the row
    * predicate is the truth). `statCols` matters only when the layout
    * has NO committed manifest (the backfill, same as extend): a
    * committed manifest carries its own dimensions, and the rewritten
    * manifest always keeps ALL of them, never just the bounded ones. */
  def zorderDeleteBox(spark: SparkSession, path: String,
      bounds: Seq[(String, Long, Long)],
      statCols: Seq[String] = ZDims): ZDeleteStats = {
    require(bounds.nonEmpty, "zorderDeleteBox needs at least one bound")
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    // prologue 1: restore / clean the trash of a crashed prior delete
    val trash = new org.apache.hadoop.fs.Path(root, TrashDir)
    restoreTrash(fs, root)
    val mfDir = new org.apache.hadoop.fs.Path(s"$path/$ManifestDir")
    val committed = fs.exists(new org.apache.hadoop.fs.Path(mfDir, "_SUCCESS"))
    var vacuumed = 0
    val mf = if (committed) {
      val rows = validateManifestSchema(spark.read.parquet(mfDir.toString), path)
      // prologue 2: complete any crashed prior op's dropped-file
      // cleanup — unlisted top-level files are invisible garbage
      val listed = rows.select(col("file")).distinct()
        .collect().map(_.getString(0)).toSet
      vacuumed = vacuumUnlisted(fs, root, listed)
      rows
    } else loadManifest(spark, path, statCols)
    val have = mf.columns.toSet
    val overlapsC = overlapsBox(have, bounds)
    // provable containment needs REAL stats on every bounded dim —
    // a null stat or an unknown dimension can never prove a row in
    val insideC = bounds.map { case (c, lo, hi) =>
      if (have.contains(s"${c}__min"))
        col(s"${c}__min").isNotNull && col(s"${c}__max").isNotNull &&
          col(s"${c}__min") >= lo && col(s"${c}__max") <= hi
      else lit(false)
    }.reduce(_ && _)
    val perFile = mf.groupBy(col("file")).agg(
        max(when(overlapsC, 1).otherwise(0)).as("ov"),
        min(when(insideC, 1).otherwise(0)).as("ins"))
      .collect()
    val dropped = perFile.filter(r => r.getInt(1) == 1 && r.getInt(2) == 1)
      .map(_.getString(0)).sorted
    val rewrite = perFile.filter(r => r.getInt(1) == 1 && r.getInt(2) == 0)
      .map(_.getString(0)).sorted
    val untouched = perFile.count(_.getInt(1) == 0)
    if (dropped.isEmpty && rewrite.isEmpty)
      return ZDeleteStats(0, 0, untouched, vacuumed)
    // the rewritten manifest keeps EVERY dimension the manifest
    // carries, never just the bounded subset
    val dims = mf.columns.filter(_.endsWith("__min"))
      .map(_.stripSuffix("__min")).toSeq
    val pred = bounds.map { case (c, lo, hi) => col(c).between(lo, hi) }
      .reduce(_ && _)
    val replaced: Seq[String] = if (rewrite.isEmpty) Nil else {
      // ONE distributed job stages every straddler's replacement,
      // keyed back to its source by index (partitionBy on an int key —
      // path-valued partition dirs would need escape-exact matching):
      // each source file filters to at most one replacement part, rows
      // kept in the file's own z order (no cross-file mixing — the
      // lineage property the in-place rename preserves)
      val tmp = new org.apache.hadoop.fs.Path(root, ".delete_tmp")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      // keyed by the path's FINAL component: input_file_name() renders
      // the scheme differently from makeQualified (file:/// vs file:/),
      // and all straddlers share the layout root so names are unique
      val srcIdx = typedLit(rewrite.zipWithIndex.map { case (f, i) =>
        f.substring(f.lastIndexOf('/') + 1) -> i
      }.toMap)
      val idxc = "__graft_srcidx"
      val src = spark.read.parquet(rewrite.toIndexedSeq: _*)
      src.withColumn(idxc,
          element_at(srcIdx, substring_index(input_file_name(), "/", -1)))
        .where(!coalesce(pred, lit(false)))
        .repartition(rewrite.length, col(idxc))
        .sortWithinPartitions(idxc, dims: _*)
        .write.partitionBy(idxc).parquet(tmp.toString)
      // a mapping miss files rows under the null-partition dir and the
      // rename loop below would read that as "every row matched" —
      // silent data loss; refuse instead
      require(!fs.exists(new org.apache.hadoop.fs.Path(tmp,
          s"$idxc=__HIVE_DEFAULT_PARTITION__")),
        "delete rewrite could not attribute rows to their source files")
      if (!fs.exists(trash)) fs.mkdirs(trash)
      val kept = rewrite.zipWithIndex.flatMap { case (f, i) =>
        val srcPath = new org.apache.hadoop.fs.Path(f)
        val partDir = new org.apache.hadoop.fs.Path(tmp, s"$idxc=$i")
        val parts = if (fs.exists(partDir))
          fs.listStatus(partDir).filter(st => st.isFile &&
            st.getPath.getName.endsWith(".parquet") && st.getLen > 0)
        else Array.empty[org.apache.hadoop.fs.FileStatus]
        require(parts.length <= 1, s"expected one replacement part for $f")
        // original into the trash FIRST (it outlives the swap there —
        // the no-data-loss invariant the prologue restore relies on)
        require(fs.rename(srcPath,
          new org.apache.hadoop.fs.Path(trash, srcPath.getName)),
          s"trash rename failed: $f")
        if (parts.isEmpty) None // every row matched: the file vanishes
        else {
          require(fs.rename(parts.head.getPath, srcPath),
            s"replacement rename failed -> $f")
          Some(f)
        }
      }
      fs.delete(tmp, true)
      kept
    }
    // the atomic switch: untouched rows survive as-is, the box's
    // files' rows drop, the replacements' fresh footer stats appear —
    // routed as an anti JOIN, never an isin literal list (the removed
    // set is O(touched files); the manifest side stays distributed)
    import spark.implicits._
    val removedDf = broadcast((dropped ++ rewrite).toSeq.toDF("file"))
    val base = mf.join(removedDf, Seq("file"), "left_anti")
    swapManifest(spark, path,
      if (replaced.nonEmpty)
        base.unionByName(footerManifestFor(spark, replaced, dims))
      else base)
    dropped.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
    fs.delete(trash, true)
    ZDeleteStats(dropped.length, rewrite.length, untouched, vacuumed)
  }

  /** Per-file (user_id, day_idx) min/max from parquet footers, as a
    * DISTRIBUTED job over the file list: the driver lists once; the
    * footer range-reads — the expensive half against object storage —
    * run executor-side, one task per slice of files. At a 10⁵–10⁶-file
    * production layout this is seconds of cluster metadata I/O where a
    * driver-sequential loop was the bottleneck. (mapPartitions is
    * justified: per-file imperative footer I/O has no declarative
    * form; the job is metadata-scale — rows = files.)
    *
    * Missing stats (a writer that recorded none) surface as nulls and
    * prune as always-overlap — pruning may only ever SKIP a file it
    * can prove empty of matches. */
  private[graft] def footerManifest(spark: SparkSession, path: String,
      statCols: Seq[String] = ZDims): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    val files = fs.listStatus(root)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
        st.getLen > 0)
      .map(_.getPath.toString).sorted.toIndexedSeq
    footerManifestFor(spark, files, statCols)
  }

  /** The distributed footer-stat job over an EXPLICIT file list — the
    * shared core of the full-layout build and the O(delta) incremental
    * extension. Generic over `statCols` (r20): any set of INTEGRAL
    * columns (int/long/date — everything parquet stores with a
    * numeric min/max a Long can carry) becomes a `<col>__min` /
    * `<col>__max` pair in the manifest, so a second layout clustered
    * on different columns gets its own tight stats from the same job.
    * `bytes`/`mtime` ride along so a manifest-backed FileIndex can
    * materialize FileStatus entries with ZERO filesystem calls. */
  private[graft] def footerManifestFor(spark: SparkSession,
      files: Seq[String], statCols: Seq[String] = ZDims): DataFrame = {
    import spark.implicits._
    val bconf = graft.GraftSession.broadcastHadoopConf(spark)
    val slices = math.max(1, math.min(files.length,
      spark.sparkContext.defaultParallelism))
    val wanted = statCols.toSet
    // One manifest row PER ROW GROUP, not per file: per-row-group
    // bounds prune strictly tighter (a file whose groups cover
    // disjoint ranges straddling the box is skipped where a file-level
    // box would keep it) and match parquet's native stats granularity.
    val raw = spark.createDataset(files).repartition(slices)
      .mapPartitions { it =>
        it.flatMap { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val hconf = bconf.value.value
          val st = p.getFileSystem(hconf).getFileStatus(p)
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, hconf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val blocks = r.getFooter.getBlocks
            (0 until blocks.size()).map { b =>
              val cols = blocks.get(b).getColumns
              val mins = scala.collection.mutable.Map.empty[String, Long]
              val maxs = scala.collection.mutable.Map.empty[String, Long]
              (0 until cols.size()).foreach { c =>
                val cc = cols.get(c)
                val name = cc.getPath.toDotString
                val stat = cc.getStatistics
                // stats only for NULL-FREE row groups: min/max never
                // describe null cells, so a group mixing nulls with
                // in-box values would classify as provably-inside and
                // a box DELETE would drop its null rows — rows no box
                // can match. Null presence (or an unset null count)
                // widens to no-stats: unprunable and uncontainable,
                // degraded cost, never a wrong row.
                if (wanted.contains(name) && stat != null && stat.hasNonNullValue &&
                    stat.isNumNullsSet && stat.getNumNulls == 0) {
                  (stat.genericGetMin, stat.genericGetMax) match {
                    case (mn: Number, mx: Number) =>
                      mins(name) = mn.longValue; maxs(name) = mx.longValue
                    case _ => // non-numeric physical type: no stats row
                  }
                }
              }
              (f, b, st.getLen, st.getModificationTime, mins.toMap, maxs.toMap)
            }.toVector
          } finally r.close()
        }
      }
      .toDF("file", "rg", "bytes", "mtime", "mins", "maxs")
    // flatten the maps into the self-describing <col>__min/__max pairs
    // (absent stats surface as NULL and prune as always-overlap)
    raw.select(
      col("file") +: col("rg") +: col("bytes") +: col("mtime") +:
        statCols.flatMap(c => Seq(
          element_at(col("mins"), c).as(s"${c}__min"),
          element_at(col("maxs"), c).as(s"${c}__max"))): _*)
  }

  /** Build + commit the manifest beside the layout (overwrite mode —
    * the parquet committer's _SUCCESS is the commit marker, same
    * protocol as the layout write itself). */
  private[graft] def writeManifest(spark: SparkSession, path: String,
      statCols: Seq[String] = ZDims): Unit =
    footerManifest(spark, path, statCols)
      .coalesce(1) // rows = files: metadata scale by construction
      .write.mode("overwrite").parquet(s"$path/$ManifestDir")

  /** The committed manifest, or a freshly-built one for a layout that
    * predates manifests (backfill — still the distributed job, never
    * the driver loop). `statCols` matters only for the backfill; a
    * committed manifest carries its own dimensions in its schema. */
  private[graft] def loadManifest(spark: SparkSession, path: String,
      statCols: Seq[String] = ZDims): DataFrame = {
    val mf = new org.apache.hadoop.fs.Path(s"$path/$ManifestDir")
    val fs = mf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(mf, "_SUCCESS")))
      validateManifestSchema(spark.read.parquet(mf.toString), path)
    else footerManifest(spark, path, statCols)
  }

  /** Refuse a committed manifest that predates the self-describing
    * schema (r20: `bytes`/`mtime` inventory + `<col>__min/__max`
    * stats). Without this, an old-format manifest surfaces as an
    * AnalysisException deep inside extend's union — or worse, a
    * manifest dir MIXING schema generations (an old base segment
    * beside a new ingest segment) reads with parquet null-filling the
    * missing inventory columns, and a null `bytes` plans a zero-length
    * FileStatus: the base files silently vanish from graftz results.
    * Schema-only check — zero extra jobs on the query path; the
    * null-inventory (mixed-segment) case is caught where the rows are
    * already materialized (manifest swap, graftz index load). */
  private def validateManifestSchema(mf: DataFrame, path: String): DataFrame = {
    val cols = mf.columns.toSet
    val missing = Seq("file", "bytes", "mtime").filterNot(cols.contains)
    require(missing.isEmpty && mf.columns.exists(_.endsWith("__min")),
      s"committed manifest at $path/$ManifestDir predates the " +
        s"self-describing schema (missing: ${missing.mkString(", ")}); " +
        "rebuild it with Layout.writeManifest(spark, path, statCols) " +
        "before reading or extending this layout")
    mf
  }

  /** File-level data skipping over the z-ordered layout, FROM THE
    * MANIFEST (r19): filter the per-file min/max manifest with the
    * predicate box — keeping any file whose stats are absent — and
    * scan only the kept files, with the row predicate re-applied so a
    * kept file's non-matching rows still drop and pruning can never
    * change the result (the oracle checks that, computed from the RAW
    * table). ZERO footer reads and ZERO directory listing on the query
    * path: the file inventory and stats both come from the manifest
    * written with the layout — the metadata architecture every
    * lakehouse format (Delta log, Iceberg manifests) exists to
    * provide, because at a 10⁵–10⁶-file layout per-query listing +
    * sequential footer reads on the driver IS the bottleneck.
    * Returns (frame, keptFileNames, totalFiles); the spec asserts the
    * kept set is IDENTICAL to the legacy footer-read path's and that
    * the skip cannot happen on a hash-shuffled copy of the same rows. */
  private[graft] def zorderPrunedScan(spark: SparkSession, path: String,
      uLo: Long, uHi: Long, dLo: Int, dHi: Int): (DataFrame, Seq[String], Int) =
    zorderPrunedScanBox(spark, path,
      Seq(("user_id", uLo, uHi), ("day_idx", dLo.toLong, dHi.toLong)))

  /** The generic conjunctive-box form (r20): prune on ANY subset of
    * the manifest's stat dimensions. A bound whose column carries no
    * stats in the manifest keeps every file (pruning may only skip
    * provably empty files); the row predicate re-applies every bound
    * regardless, so a stats gap degrades cost, never correctness.
    *
    * `schemaHint` feeds the kept-empty result: an empty frame is
    * built from the KNOWN layout schema, never by re-reading an
    * arbitrary manifest-listed file that a compaction/replay may have
    * deleted since (r19 ADVICE); without a hint it falls back to one
    * planning-time directory schema read. Also guards an entirely
    * EMPTY manifest (zero files) instead of crashing. */
  private[graft] def zorderPrunedScanBox(spark: SparkSession, path: String,
      bounds: Seq[(String, Long, Long)],
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : (DataFrame, Seq[String], Int) = {
    require(bounds.nonEmpty, "pruned scan needs at least one bound")
    // a row group overlaps when every dimension's [min,max] intersects
    // the box; ABSENT stats coalesce to always-overlap (pruning may
    // only skip provably empty files). The filter runs DISTRIBUTED
    // over the manifest — at a 10⁶-file layout only one (file, kept)
    // row per FILE reaches the driver, which must hold the kept names
    // regardless to construct the read (what a table format's planner
    // holds too).
    val mf = loadManifest(spark, path, bounds.map(_._1))
    val overlaps = overlapsBox(mf.columns.toSet, bounds)
    val perFile = mf
      .groupBy(col("file"))
      .agg(max(when(overlaps, 1).otherwise(0)).as("k")) // any row group overlaps
      .collect()
    val kept = perFile.filter(_.getInt(1) == 1).map(_.getString(0)).sorted
    val total = perFile.length
    val pred = bounds.map { case (c, lo, hi) => col(c).between(lo, hi) }
      .reduce(_ && _)
    val df =
      if (kept.nonEmpty) spark.read.parquet(kept.toIndexedSeq: _*).where(pred)
      else schemaHint match {
        case Some(s) =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        case None =>
          // schema from the layout DIRECTORY (robust to any single
          // file having been compacted away), filtered to nothing
          spark.read.parquet(path).where(lit(false))
      }
    (df, kept.toIndexedSeq, total)
  }

  /** LEGACY pruning path: driver-sequential listing + footer reads.
    * Kept as the spec's independent A/B reference for the manifest
    * path (kept-file sets must be identical) — not reachable from any
    * query. Each footer open increments [[driverFooterReads]]. */
  private[graft] def zorderPrunedScanFooters(spark: SparkSession, path: String,
      uLo: Long, uHi: Long, dLo: Int, dHi: Int): (DataFrame, Seq[String], Int) =
    zorderPrunedScanFootersBox(spark, path,
      Seq(("user_id", uLo, uHi), ("day_idx", dLo.toLong, dHi.toLong)))

  private[graft] def zorderPrunedScanFootersBox(spark: SparkSession,
      path: String, bounds: Seq[(String, Long, Long)])
      : (DataFrame, Seq[String], Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
        st.getLen > 0)
      .map(_.getPath.toString).sorted
    val byCol = bounds.map { case (c, lo, hi) => c -> ((lo, hi)) }.toMap
    def overlaps(file: String): Boolean = {
      driverFooterReads.incrementAndGet()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = r.getFooter.getBlocks
        // any row group overlapping the box keeps the file
        (0 until blocks.size()).exists { b =>
          val cols = blocks.get(b).getColumns
          var ok = true
          (0 until cols.size()).foreach { c =>
            val cc = cols.get(c)
            val st = cc.getStatistics
            byCol.get(cc.getPath.toDotString).foreach { case (lo, hi) =>
              if (st != null && st.hasNonNullValue) {
                val mn = st.genericGetMin.asInstanceOf[Number].longValue
                val mx = st.genericGetMax.asInstanceOf[Number].longValue
                ok = ok && mx >= lo && mn <= hi
              }
            }
          }
          ok
        }
      } finally r.close()
    }
    val kept = files.filter(overlaps)
    val pred = bounds.map { case (c, lo, hi) => col(c).between(lo, hi) }
      .reduce(_ && _)
    val df =
      if (kept.isEmpty)
        // no file can match: correct empty result, schema preserved
        // from the directory (never one arbitrary file)
        spark.read.parquet(path).where(lit(false))
      else spark.read.parquet(kept.toIndexedSeq: _*).where(pred)
    (df, kept.toIndexedSeq, files.length)
  }

  /** `q_zorder_scan`: per-type counts and value sums inside the
    * (user, day) predicate box, served from the z-ordered layout
    * through footer-stats file skipping. The oracle computes the same
    * aggregate from the raw table — a pruning bug (skipped file that
    * held a matching row) is a value mismatch, not a silent speedup. */
  def qZorderScan(spark: SparkSession, dir: String): DataFrame = {
    val (df, _, _) = zorderPrunedScan(spark, zorderedEvents(spark, dir),
      ZUserLo, ZUserHi, ZDayLo, ZDayHi)
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast(DecimalType(18, 2))
          .cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  val qZorderScanOracle: String =
    s"""SELECT event_type, count(*) AS n,
       |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
       |FROM events
       |WHERE user_id BETWEEN $ZUserLo AND $ZUserHi
       |  AND CAST(ts AS DATE) - DATE '1970-01-01' BETWEEN $ZDayLo AND $ZDayHi
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** `q_zorder_scan_sql` (r20): the SAME box aggregate as
    * [[qZorderScan]], but reached through the standard read surface —
    * `spark.read.format("graftz")` + a SQL query over a temp view —
    * instead of the private pruned-scan API. The WHERE clause travels
    * SQL → Catalyst → `FileScanBuilder.pushFilters` →
    * [[graft.sources.GraftZFileIndex.listFiles]], so manifest file
    * skipping happens with zero graft-specific calls in the query
    * (GraftZSpec pins the executed scan's file set against the
    * manifest-kept set). Oracle: identical aggregate from the RAW
    * events table — a pruning bug is a value mismatch. */
  def qZorderScanSql(spark: SparkSession, dir: String): DataFrame = {
    val path = zorderedEvents(spark, dir)
    val view = s"graftz_events_${stageTag(dir)}"
    spark.read.format("graftz").load(path).createOrReplaceTempView(view)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
         |FROM $view
         |WHERE user_id BETWEEN $ZUserLo AND $ZUserHi
         |  AND day_idx BETWEEN $ZDayLo AND $ZDayHi
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  // ------------------------------------------------ 3-dim Z-order layout

  /** The 3-dim layout's dimensions: user, day index, hour of day —
    * the third is scale-invariant (0-23 at any SF) and independent of
    * the first two, so the 3-dim box stays non-empty at every fixture
    * scale where an id-range third dimension (ids correlate with time)
    * empties. */
  val Z3Dims: Seq[String] = Seq("user_id", "day_idx", "hour_idx")

  /** The `q_zorder_scan_3d` box: [[ZUserLo]]-[[ZUserHi]] ×
    * [[ZDayLo]]-[[ZDayHi]] × business hours. */
  val ZHourLo = 9; val ZHourHi = 17

  private val stagedZorder3 = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Events z-ordered on THREE dimensions via the public
    * [[zorderWrite]] API — the staged half of `q_zorder_scan_3d`. */
  private[graft] def zordered3Events(spark: SparkSession, dir: String): String =
    stagedPath(stagedZorder3, dir) {
      val path = s"${stageRoot(dir)}/events_zorder3"
      zorderWrite(spark,
        Sessions.events(spark, dir)
          .withColumn("day_idx", dayIdx)
          .withColumn("hour_idx", hour(col("ts"))),
        path, Z3Dims)
      path
    }

  /** `q_zorder_scan_3d` (r20): per-type counts/sums inside a
    * THREE-dimensional predicate box — (user, day, hour) — over a
    * layout written by the public [[zorderWrite]] API and read through
    * the standard `spark.read.format("graftz")` surface. What it
    * proves beyond [[qZorderScanSql]]: the N-dim Morton curve + the
    * self-describing manifest make a THIRD pruning dimension pure
    * config (one `Seq` argument), and the pushdown path prunes a
    * conjunctive box across all three. Oracle: identical aggregate
    * from the RAW events table — a curve/manifest/pushdown bug on any
    * dimension is a value mismatch. */
  def qZorderScan3d(spark: SparkSession, dir: String): DataFrame = {
    val path = zordered3Events(spark, dir)
    val view = s"graftz3_events_${stageTag(dir)}"
    spark.read.format("graftz").load(path).createOrReplaceTempView(view)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
         |FROM $view
         |WHERE user_id BETWEEN $ZUserLo AND $ZUserHi
         |  AND day_idx BETWEEN $ZDayLo AND $ZDayHi
         |  AND hour_idx BETWEEN $ZHourLo AND $ZHourHi
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val qZorderScan3dOracle: String =
    s"""SELECT event_type, count(*) AS n,
       |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
       |FROM events
       |WHERE user_id BETWEEN $ZUserLo AND $ZUserHi
       |  AND CAST(ts AS DATE) - DATE '1970-01-01' BETWEEN $ZDayLo AND $ZDayHi
       |  AND EXTRACT(hour FROM ts) BETWEEN $ZHourLo AND $ZHourHi
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private val stagedZorderDel = scala.collection.concurrent.TrieMap.empty[String, String]

  /** A fresh 2-dim layout with the standard box DELETED — the staged
    * half of `q_zorder_delete`, built entirely by the public APIs
    * ([[zorderWrite]] then [[zorderDeleteBox]]). */
  private[graft] def zorderedDeletedEvents(spark: SparkSession, dir: String): String =
    stagedPath(stagedZorderDel, dir) {
      val path = s"${stageRoot(dir)}/events_zorder_del"
      zorderWrite(spark,
        Sessions.events(spark, dir).withColumn("day_idx", dayIdx),
        path, ZDims)
      zorderDeleteBox(spark, path, Seq(
        ("user_id", ZUserLo, ZUserHi),
        ("day_idx", ZDayLo.toLong, ZDayHi.toLong)))
      path
    }

  /** `q_zorder_delete` (late r20): per-type counts/sums over a layout
    * the standard (user, day) box was DELETED FROM via
    * [[zorderDeleteBox]] — the GDPR purge read back through the
    * standard `graftz` surface. The oracle computes the complement
    * aggregate from the RAW table, so BOTH failure modes are value
    * mismatches: a row the delete missed (inside the box but still
    * readable) and a row it over-deleted (outside the box but gone —
    * e.g. a whole-file drop that was not actually provably inside). */
  def qZorderDelete(spark: SparkSession, dir: String): DataFrame = {
    val path = zorderedDeletedEvents(spark, dir)
    spark.read.format("graftz").load(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast(DecimalType(18, 2))
          .cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  val qZorderDeleteOracle: String =
    s"""SELECT event_type, count(*) AS n,
       |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
       |FROM events
       |WHERE NOT (user_id BETWEEN $ZUserLo AND $ZUserHi
       |       AND CAST(ts AS DATE) - DATE '1970-01-01' BETWEEN $ZDayLo AND $ZDayHi)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private val stagedZorderCmp = scala.collection.concurrent.TrieMap.empty[String, String]

  /** A layout built as base + two ingest batches, then COMPACTED back
    * to [[ZFiles]] freshly clustered files — the staged half of
    * `q_zorder_compact`, built entirely by the public maintenance
    * verbs (write → ingest ×2 → compact). */
  private[graft] def zorderedCompactedEvents(spark: SparkSession, dir: String): String =
    stagedPath(stagedZorderCmp, dir) {
      val path = s"${stageRoot(dir)}/events_zorder_cmp"
      val ev = Sessions.events(spark, dir).withColumn("day_idx", dayIdx)
      zorderWrite(spark, ev.where(col("day_idx") < 19740), path, ZDims)
      zorderIngestBatch(spark, path, 1L,
        ev.where(col("day_idx") >= 19740 && col("day_idx") < 19750).drop("day_idx"))
      zorderIngestBatch(spark, path, 2L,
        ev.where(col("day_idx") >= 19750).drop("day_idx"))
      zorderCompact(spark, path, gen = 1L)
      path
    }

  /** `q_zorder_compact` (late r20): the same box aggregate as
    * [[qZorderScan]], read through graftz off a layout that was built
    * by the full maintenance lifecycle — write, two ingest batches,
    * then [[zorderCompact]] back to a single clustered file set. The
    * oracle computes the aggregate from the RAW table, so a compaction
    * that loses, duplicates or corrupts any row — from the base OR
    * either batch — is a value mismatch; the pruning properties of the
    * compacted layout are ZorderSpec's job. */
  def qZorderCompact(spark: SparkSession, dir: String): DataFrame = {
    val path = zorderedCompactedEvents(spark, dir)
    spark.read.format("graftz").load(path)
      .where(col("user_id").between(ZUserLo, ZUserHi) &&
        col("day_idx").between(ZDayLo, ZDayHi))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast(DecimalType(18, 2))
          .cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zorder_compact" -> (qZorderCompact _),
    "q_zorder_delete" -> (qZorderDelete _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "q_partition_prune" -> (qPartitionPrune _),
    "layout_zorder" -> (layoutZorder _),
    "q_zorder_scan" -> (qZorderScan _),
    "q_zorder_scan_sql" -> (qZorderScanSql _),
    "q_zorder_scan_3d" -> (qZorderScan3d _),
  )

  def oracleSql: Map[String, String] = Map(
    "q_zorder_compact" -> qZorderScanOracle, // compaction must preserve the same truth
    "q_zorder_delete" -> qZorderDeleteOracle,
    "q_bucketed_join" -> qBucketedJoinOracle,
    "q_partition_prune" -> qPartitionPruneOracle,
    "layout_zorder" -> layoutZorderOracle,
    "q_zorder_scan" -> qZorderScanOracle,
    "q_zorder_scan_sql" -> qZorderScanOracle, // same truth, different read path
    "q_zorder_scan_3d" -> qZorderScan3dOracle,
  )
}
