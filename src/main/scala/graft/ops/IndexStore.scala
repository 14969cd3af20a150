package graft.ops

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable home for index artifacts (r18): the IVF seed/refined
  * centroids, the PQ codebook, the verified near-dup pair graph, and
  * the exact-top-k ground truth are index CONSTRUCTION — one or two
  * full corpus passes each — whose results are metadata- or id-pair-
  * scale. Through r17 they lived in per-process ConcurrentHashMaps, so
  * every new driver re-paid the construction passes; at 100 TB that is
  * hours of cluster time per process for state that fits in kilobytes
  * (centroids) to gigabytes (pair graph). This store writes each
  * artifact as parquet under a content-fingerprinted directory and
  * loads-not-rebuilds on any later request — from this process or the
  * next one.
  *
  * Layout: `<root>/<fingerprint>/<artifact>.parquet`, where the
  * fingerprint is a SHA-1 over the source table's file INVENTORY
  * (name, length, modification time per part file) — an inventory
  * fingerprint, NOT a content hash. Inventory-keying — not
  * path-keying — is what makes cross-process reuse safe in the normal
  * lifecycle: a regenerated snapshot at the same path changes lengths
  * or mtimes, gets a new fingerprint, and triggers a fresh build.
  * The precondition to know: a snapshot regenerated while PRESERVING
  * names, lengths, AND mtimes (a `cp -p`-style restore of different
  * bytes — no normal writer does this) would silently serve the stale
  * artifact; conversely two paths holding byte-identical data do NOT
  * share one artifact (their part names/mtimes differ), they each
  * build once. Where the store backend exposes content checksums
  * (S3 ETags, HDFS file checksums), mixing them into the digest
  * closes the stale-serve hole — the local-FS default has no cheap
  * equivalent. A real deployment points `spark.graft.index.root`
  * at durable storage beside the corpus snapshots; the default keeps
  * artifacts under the build tree so local runs get cross-process
  * reuse without touching anything outside the repo.
  *
  * Write protocol: build → write to a dot-prefixed temp dir → rename
  * into place. Rename is the commit point, so a reader never observes
  * a half-written artifact; if two PROCESSES race one cold artifact,
  * the rename loser deletes its copy and reads the winner's (both
  * built the same deterministic result — a wasted job, never a wrong
  * one). In-process races are single-flighted by [[memo]].
  */
object IndexStore {

  /** Session conf naming the artifact root. The value `off` disables
    * persistence entirely (build-only, the pre-r18 behavior) — the
    * escape hatch for read-only environments and for specs that need
    * to exercise the raw construction path. */
  val RootConf = "spark.graft.index.root"

  /** Default root: under the sbt build tree (gitignored), absolute so
    * executors and driver agree regardless of working-directory
    * quirks. Production overrides this to durable shared storage. */
  lazy val DefaultRoot: String =
    new java.io.File("target/graft-index").getAbsolutePath

  /** Observability counters (also the spec's hook): how many artifacts
    * this process built AND GENUINELY COMMITTED vs loaded from a
    * written artifact. A build that loses a commit race is NOT counted
    * (r19 — its construction cost was paid but its bytes were
    * discarded; the counter answers "who owns the committed
    * artifacts", the question dedupe/debug sessions ask). A fresh
    * process over an already-indexed snapshot should show loads>0,
    * builds==0. */
  val builds = new AtomicLong
  val loads = new AtomicLong

  private[graft] def root(spark: SparkSession): Option[String] = {
    val r = spark.conf.get(RootConf, DefaultRoot)
    if (r == "off" || r.isEmpty) None else Some(r)
  }

  /** One listStatus per (dir, table) per process: the inventory of an
    * immutable snapshot does not change under us — the same assumption
    * every other per-snapshot memo here makes. */
  private val fpCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def fingerprint(spark: SparkSession, dir: String, table: String): String =
    fpCache.computeIfAbsent(s"$dir#$table", _ => {
      val p = new Path(s"$dir/$table.parquet")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val statuses =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).sortBy(_.getPath.getName)
        else Array(fs.getFileStatus(p))
      val md = java.security.MessageDigest.getInstance("SHA-1")
      statuses.foreach { st =>
        md.update(
          s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime};".getBytes("UTF-8"))
      }
      md.digest().map("%02x".format(_)).mkString
    })

  private def destPath(spark: SparkSession, dir: String, table: String,
      name: String, r: String): Path =
    new Path(s"$r/${fingerprint(spark, dir, table)}/$name.parquet")

  /** The committed artifact as a DataFrame, if it exists (None with
    * persistence off or before the first write). */
  private[graft] def tryLoad(spark: SparkSession, dir: String, table: String,
      name: String): Option[DataFrame] = root(spark).flatMap { r =>
    val dest = destPath(spark, dir, table, name, r)
    val fs = dest.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new Path(dest, "_SUCCESS"))) {
      loads.incrementAndGet()
      Some(spark.read.parquet(dest.toString))
    } else None
  }

  /** Write `df` as the named artifact (temp dir + rename commit). A
    * no-op with persistence off; a cross-process race resolves to a
    * committed copy either way (every build of an artifact is
    * deterministic in the snapshot, so whichever writer lands, the
    * bytes carry the same values).
    *
    * An EXISTING dest is handled BEFORE the rename: committed
    * (_SUCCESS) → adopt it and drop ours; uncommitted debris (a
    * writer that died mid-commit) → delete it first. This matters
    * because Hadoop's local rename into an existing non-empty
    * directory does not replace it — it can move the source INSIDE
    * the target, silently nesting the new artifact under the debris. */
  private[graft] def write(spark: SparkSession, dir: String, table: String,
      name: String, df: DataFrame): Unit = root(spark).foreach { r =>
    val dest = destPath(spark, dir, table, name, r)
    val fs = dest.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(s"$r/${fingerprint(spark, dir, table)}/" +
      s".${name}_tmp_${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(tmp.toString)
    var committed = false
    if (fs.exists(dest) && fs.exists(new Path(dest, "_SUCCESS"))) {
      fs.delete(tmp, true) // lost the race to a committed writer
      sweepNestedTmp(fs, dest) // self-heal debris a past loser leaked
    } else {
      if (fs.exists(dest)) fs.delete(dest, true) // crash debris, never committed
      if (fs.rename(tmp, dest)) {
        // TOCTOU post-check (r19): a racer can commit dest between the
        // exists probe and the rename, and local-FS rename into an
        // existing directory "succeeds" by NESTING tmp inside it as a
        // hidden child. Readers ignore dot-prefixed paths so values
        // were never wrong — but the loser's full copy would leak
        // inside the committed artifact (invisible to prune) and be
        // miscounted as a build. Genuinely committed = no nested tmp
        // and a _SUCCESS directly under dest.
        val nested = new Path(dest, tmp.getName)
        if (fs.exists(nested)) fs.delete(nested, true) // lost; drop the leaked copy
        else committed = fs.exists(new Path(dest, "_SUCCESS"))
        sweepNestedTmp(fs, dest)
      } else fs.delete(tmp, true) // raced: winner committed
    }
    if (committed) builds.incrementAndGet()
  }

  /** Delete dot-prefixed `*_tmp_*` children nested under a committed
    * artifact — the footprint a rename-race loser leaves (see the
    * TOCTOU note in [[write]]). Readers never see them (hidden paths),
    * prune never descends into live fingerprints, so writes are the
    * natural sweep point. */
  private def sweepNestedTmp(fs: org.apache.hadoop.fs.FileSystem, dest: Path): Unit =
    if (fs.exists(dest)) fs.listStatus(dest).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".") && n.contains("_tmp_")) fs.delete(st.getPath, true)
    }

  /** Load the named artifact for (dir, table)'s current content, or
    * build it via `build`, write it, and return a reader over the
    * WRITTEN copy — both paths hand back a plan rooted at the artifact
    * parquet, so a value produced by a cold build and one produced by
    * a warm load are the same bytes through the same scan. With
    * persistence off, returns `build` directly. (Callers that want to
    * keep the BUILD plan visible to Spark's CacheManager — so
    * same-process consumers of the underived formulation still get
    * plan-cache substitution — compose [[tryLoad]]/[[write]] around a
    * persisted build frame instead; see `Dedup.pairGraph`.) */
  def loadOrBuild(spark: SparkSession, dir: String, table: String, name: String)(
      build: => DataFrame): DataFrame = root(spark) match {
    case None => build
    case Some(r) =>
      tryLoad(spark, dir, table, name).getOrElse {
        write(spark, dir, table, name, build)
        spark.read.parquet(destPath(spark, dir, table, name, r).toString)
      }
  }

  /** A value memoized under its by-name build; evaluated at most once
    * per cell (a lazy val is single-flight), OUTSIDE the map's own
    * locking — so a build may itself consult [[memo]] for other keys
    * (centroids → seeds → corpus count) without the recursive-update
    * hazard of nesting `computeIfAbsent` on one map. A build that
    * throws leaves the cell unset; the next caller retries. */
  private final class Once(build: => Any) { lazy val value: Any = build }

  private val memos = new java.util.concurrent.ConcurrentHashMap[(String, String), Once]()

  /** The one process memo for per-snapshot index state: a value
    * derived from `dir` (a corpus count, an embedding dim, a decoded
    * artifact) under its value or artifact `name`, computed once per
    * process. Keyed on the snapshot path, so it assumes — like every
    * artifact here — that the data at `dir` does not change under a
    * running process. */
  private[graft] def memo[T](dir: String, name: String)(build: => T): T =
    memos.computeIfAbsent((dir, name), _ => new Once(build)).value.asInstanceOf[T]

  /** [[loadOrBuild]] decoded to a driver value (centroids, codebooks,
    * stats), memoized per process on (dir, artifact name): the first
    * caller loads — or builds and writes — the artifact, later callers
    * get the decoded value without touching the store. */
  private[graft] def loadMemo[T](spark: SparkSession, dir: String, table: String, name: String)(
      build: => DataFrame)(decode: DataFrame => T): T =
    memo(dir, name)(decode(loadOrBuild(spark, dir, table, name)(build)))

  /** Test hook: forget every memoized value (a simulated fresh driver). */
  private[graft] def clearMemos(): Unit = memos.clear()

  /** Retire artifact generations of superseded snapshots (r18). Every
    * regenerated snapshot gets a fresh fingerprint directory, so the
    * root accumulates one generation per rewrite forever — at 100 TB
    * the pair-graph artifacts alone make that a real storage leak.
    * Deletes each fingerprint directory that (a) is not LIVE in this
    * process (no (dir, table) this process has fingerprinted resolves
    * to it — the generations current readers were handed plans over)
    * and (b) has no artifact file newer than `maxAgeMs`. An aged-out
    * generation a concurrent process still reads rebuilds on its next
    * cache miss via [[loadOrBuild]] — a wasted build, never a wrong
    * result (the same guarantee the write race leans on), which is
    * what makes an mtime heuristic safe to run without coordination.
    * Returns the retired fingerprints for observability; maintenance
    * is OPERATOR-INVOKED — nothing here runs it implicitly. */
  def prune(spark: SparkSession, maxAgeMs: Long): Seq[String] = root(spark) match {
    case None => Nil
    case Some(r) =>
      val rp = new Path(r)
      val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(rp)) Nil
      else {
        val live = new java.util.HashSet[String](fpCache.values())
        val now = System.currentTimeMillis()
        fs.listStatus(rp).toSeq
          .filter(st => st.isDirectory && !live.contains(st.getPath.getName))
          .filter { st =>
            val children = fs.listStatus(st.getPath).map(_.getModificationTime)
            val newest = (st.getModificationTime +: children.toSeq).max
            now - newest > maxAgeMs
          }
          .map { st =>
            fs.delete(st.getPath, true)
            st.getPath.getName
          }
      }
  }

  /** Test hook: drop the fingerprint memo (a spec that rewrites a
    * fixture table mid-process needs the next call to re-list). */
  private[graft] def clearFingerprints(): Unit = fpCache.clear()
}
