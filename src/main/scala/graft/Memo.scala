package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one result cache: shared query cores and driver-side
  * values are built once and reused until their source changes.
  *
  *  - '''What it holds.''' [[cached]] / [[cachedParquet]] hold SHARED
  *    QUERY CORES, the relations several registered queries compose from
  *    (d6's cluster labels, the d2 LSH pairs, tx9's scored pairs); without
  *    them tx17 re-paid tx9's candidate join (1.9 s at sf0.1) and d2/d4/
  *    d10/d6 each re-ran the band self-join. [[value]] holds DRIVER-SIDE
  *    values that plan construction needs (row counts, tip heights, trained
  *    codebooks, merge lists), so constructing a plan never re-runs them.
  *  - '''Key.''' (scope, data dir, tag, key parts, source fingerprint).
  *    `tag` names the build in logs; per-call parameters (k/iters, a
  *    needle, a mode flag) go in the key parts.
  *  - '''Fingerprint.''' The Hadoop `FileSystem` status (mtime, length) of
  *    `srcFile` under `dir`, so regenerating the source at the same path
  *    invalidates its entries on any filesystem (`file:`, `hdfs://`,
  *    `s3a://`). A missing source throws, naming the path: it must never
  *    key an entry that outlives the file's appearance.
  *  - '''Scope.''' Frames are SESSION-scoped: their checkpoint RDDs and
  *    scratch die with the session, so entries of stopped sessions are
  *    purged on access and the map never pins a dead session. Values are
  *    plain driver data and JVM-scoped (valid across sessions).
  *  - '''Attribution.''' Every build is timed as its tag's build (exclusive
  *    of nested builds) and drained by Bench as a `memo:<tag>` line item.
  *  - '''Cleanup.''' [[cachedParquet]] scratch lives under
  *    `java.io.tmpdir/graft-memo-<appId>` and is deleted at application end.
  *
  * Lookups are get/putIfAbsent rather than computeIfAbsent: cores COMPOSE
  * (the LSH pair core builds on the hashed-shingle core), so a build may
  * re-enter this cache, and a nested computeIfAbsent on one
  * ConcurrentHashMap throws "Recursive update". The benign race (two
  * threads both building, the loser's result dropped) is acceptable: Bench
  * and Verify run queries sequentially, and correctness is unaffected.
  *
  * At 100 TB this is the "materialize the candidate-pair / cluster-label
  * intermediate once" step a real pipeline persists between stages;
  * in-session localCheckpoint is the single-JVM equivalent
  * (MEMORY_AND_DISK, spills instead of OOM-ing).
  */
object Memo {
  private final case class Key(scope: Option[SparkSession], dir: String,
                               tag: String, parts: Seq[Any], fp: (Long, Long))

  private val cache = new java.util.concurrent.ConcurrentHashMap[Key, AnyRef]()

  /** Wall-clock of every build this JVM has run, drained by Bench:
    * memoization made per-query bench attribution ORDER-DEPENDENT (the
    * first query touching a shared core paid its build — d10 0.18 s vs
    * d2 0.06 s in BENCH_r08 only because d10 sorts first), so Bench
    * subtracts in-query build time from the enclosing query and emits each
    * build as its own `memo:<tag>` line item (VERDICT r8 item 3). Builds
    * outside Bench (Verify, specs) accumulate harmlessly until drained. */
  private val buildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

  /** Per-thread stack of in-progress build frames; each frame accumulates
    * the wall-clock of its DIRECT child builds so a parent logs only its
    * EXCLUSIVE time. Cores compose (cell_asg builds on the k-means
    * training core), and logging inclusive spans double-counted the
    * nested child — Bench's per-query subtraction then drove a query's
    * net time NEGATIVE, which the -1 failure sentinel misread as a crash
    * (caught live in the first r9 smoke run). */
  private val frames = new ThreadLocal[java.util.ArrayDeque[Array[Double]]] {
    override def initialValue() = new java.util.ArrayDeque[Array[Double]]()
  }

  /** Time `f` as the build of `tag`, logging EXCLUSIVE seconds (total
    * minus nested build spans on this thread). */
  private def timedBuild[T](tag: String)(f: => T): T = {
    val stack = frames.get()
    stack.push(Array(0.0))
    val t0 = System.nanoTime()
    var ok = false
    try { val r = f; ok = true; r } finally {
      val total = (System.nanoTime() - t0) / 1e9
      val child = stack.pop()(0)
      // a build that THREW is not a completed core: logging its partial
      // wall would inflate memo line items with time for work that will
      // re-run (and re-log) on the next consumer — the crash stays inside
      // the enclosing query's failure handling (review r9). For the same
      // reason the aborted child's span must NOT be subtracted from the
      // parent's exclusive time: a parent that catches the crash and
      // recovers did the recovery work itself, and the child logged
      // nothing to balance the subtraction (ADVICE r9).
      if (ok) {
        if (!stack.isEmpty) stack.peek()(0) += total
        buildLog.add((tag, math.max(0.0, total - child)))
      }
    }
  }

  /** Remove and return all builds logged since the last drain. */
  def drainBuilds(): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var e = buildLog.poll()
    while (e != null) { out += e; e = buildLog.poll() }
    out.toSeq
  }

  /** (mtime, length) of `dir/srcFile` through its Hadoop FileSystem. */
  private def fingerprint(s: SparkSession, dir: String,
                          srcFile: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$srcFile")
    val st =
      try p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(s"Memo source $p does not exist", e)
      }
    (st.getModificationTime, st.getLen)
  }

  /** The one lookup every entry point shares: purge entries of stopped
    * sessions, fingerprint the source, and on a miss run `build` (given
    * the fingerprint) as the timed build of `tag`. */
  private def memo[T](s: SparkSession, scope: Option[SparkSession],
                      dir: String, srcFile: String, tag: String,
                      parts: Seq[Any])(build: ((Long, Long)) => T): T = {
    cache.keySet.removeIf(_.scope.exists(_.sparkContext.isStopped))
    val fp = fingerprint(s, dir, srcFile)
    val key = Key(scope, dir, tag, parts, fp)
    val hit = cache.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val built = timedBuild(tag)(build(fp)).asInstanceOf[AnyRef]
      val prev = cache.putIfAbsent(key, built)
      (if (prev != null) prev else built).asInstanceOf[T]
    }
  }

  /** A driver-side value derived from `dir/srcFile`, built once per
    * (dir, tag, key parts, fingerprint) for the life of the JVM. */
  def value[T](s: SparkSession, dir: String, srcFile: String, tag: String,
               keyParts: Any*)(build: => T): T =
    memo(s, None, dir, srcFile, tag, keyParts)(_ => build)

  /** A shared core, localCheckpoint-materialized once per
    * (session, dir, tag, fingerprint). */
  def cached(s: SparkSession, dir: String, tag: String, srcFile: String)(
      build: => DataFrame): DataFrame =
    memo(s, Some(s), dir, srcFile, tag, Nil)(_ => build.localCheckpoint(true))

  /** [[cached]] for INDEX-SIZED cores: materialize as compressed parquet
    * in a session-scoped scratch dir instead of a serialized RDD
    * checkpoint. A localCheckpoint stores deserialized-then-serialized
    * rows with no columnar encoding — the sf100 trigram postings
    * (~1.5 B (gram, doc_id) rows) ENOSPC'd the box at ~30 GB where
    * parquet's dictionary + RLE holds the same relation in a few GB —
    * and parquet IS the artifact a production build persists anyway (the
    * bucketed-layout story BucketingSpec drives). */
  def cachedParquet(s: SparkSession, dir: String, tag: String,
                    srcFile: String)(build: => DataFrame): DataFrame =
    memo(s, Some(s), dir, srcFile, tag, Nil) { case (mtime, len) =>
      val root = scratchRoot(s.sparkContext)
      // The scratch path carries EVERY cache-key component that varies
      // within a session: tag, DATA DIR (hashed — two scale dirs used in
      // one session share tags, and dirs generated together share
      // mtimes; omitting the dir made the second build overwrite the
      // parquet backing the first's still-cached DataFrame, ADVICE r12),
      // and the source fingerprint.
      val dirHash = java.lang.Integer.toHexString(dir.hashCode)
      val path = root.resolve(s"${tag}_${dirHash}_${mtime}_$len")
      // Build into a unique temp dir and atomically rename: two threads
      // racing the first call would otherwise both write THE SAME final
      // path with mode=overwrite, and the loser's overwrite races the
      // winner's readers (ADVICE r12). rename(2) of a directory fails if
      // the target exists, so exactly one build lands; the loser discards
      // its files and reads the winner's.
      val tmp = java.nio.file.Paths.get(
        path.toString + "_tmp_" + java.util.UUID.randomUUID().toString)
      build.write.mode("overwrite").parquet(tmp.toString)
      try java.nio.file.Files.move(tmp, path,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          // rename refused. If the target exists we lost the race (or a
          // prior run of this app left it) — it is a COMPLETE index for
          // this exact key, so drop ours and read theirs; anything else
          // is a real failure and must surface.
          if (!java.nio.file.Files.exists(path)) throw e
          deleteRecursively(tmp.toFile)
      }
      s.read.parquet(path.toString)
    }

  /** Contexts whose scratch root already has a cleaner registered. */
  private val cleaned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `graft-memo-<appId>` under java.io.tmpdir, with one listener per
    * context that deletes it when the application ends. */
  private def scratchRoot(sc: SparkContext): java.nio.file.Path = {
    val root = scratchRootOf(sc.applicationId)
    if (cleaned.add(sc.applicationId)) sc.addSparkListener(scratchCleaner(root))
    root
  }

  private[graft] def scratchRootOf(appId: String): java.nio.file.Path =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), s"graft-memo-$appId")

  private[graft] def scratchCleaner(root: java.nio.file.Path): SparkListener =
    new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
        deleteRecursively(root.toFile)
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
