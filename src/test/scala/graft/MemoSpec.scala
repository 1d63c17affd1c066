package graft

/** Laws of the engine's one result cache (VERDICT r7 item 1): the memo is
  * what keeps composed queries (px5/tx17/TrainingPipeline) from re-running
  * the d2/d6/tx9 cores and plan construction from re-running driver-side
  * values, so its contract needs gates of its own — build-once, source
  * fingerprint invalidation on any filesystem, loud failure on a missing
  * source, per-tag isolation, build attribution and scratch cleanup. */
class MemoSpec extends SparkSpec {
  test("cached builds once per (dir, tag, mtime) and serves the same frame") {
    var builds = 0
    def build = {
      builds += 1
      Tables.documents(spark, sf).select("doc_id")
    }
    val a = Memo.cached(spark, sf, "memospec_once", "documents.parquet")(build)
    val b = Memo.cached(spark, sf, "memospec_once", "documents.parquet")(build)
    assert(builds === 1, "second call must serve the memoized core")
    assert(a eq b, "both calls must return the SAME materialized frame")
  }

  test("distinct tags never collide") {
    var builds = 0
    def build = {
      builds += 1
      Tables.documents(spark, sf).select("doc_id")
    }
    Memo.cached(spark, sf, "memospec_tag_a", "documents.parquet")(build)
    Memo.cached(spark, sf, "memospec_tag_b", "documents.parquet")(build)
    assert(builds === 2)
  }

  test("a source mtime change invalidates the entry (stale cores never served)") {
    val dir = java.nio.file.Files.createTempDirectory("memospec").toFile
    val src = new java.io.File(dir, "documents.parquet")
    java.nio.file.Files.writeString(src.toPath, "v1")
    var builds = 0
    def build = {
      builds += 1
      Tables.documents(spark, sf).select("doc_id")
    }
    Memo.cached(spark, dir.getPath, "memospec_mtime", "documents.parquet")(build)
    Memo.cached(spark, dir.getPath, "memospec_mtime", "documents.parquet")(build)
    assert(builds === 1)
    // regenerate the source: same path, different mtime → entry invalid
    assert(src.setLastModified(src.lastModified + 60000L))
    Memo.cached(spark, dir.getPath, "memospec_mtime", "documents.parquet")(build)
    assert(builds === 2, "an mtime change must rebuild, never serve stale")
  }

  /** ADVICE r12 (medium): the parquet scratch path omitted the data DIR,
    * so two dirs sharing a tag and a source mtime (dirs generated or
    * copied together) wrote the SAME path — the second build overwrote the
    * parquet backing the first's still-cached lazy DataFrame. */
  test("cachedParquet: two data dirs, same tag, equal mtimes — each serves its own corpus") {
    val sp = spark
    import sp.implicits._
    val d1 = java.nio.file.Files.createTempDirectory("memopq1").toFile
    val d2 = java.nio.file.Files.createTempDirectory("memopq2").toFile
    Seq(1L).toDF("v").write.parquet(new java.io.File(d1, "documents.parquet").getPath)
    Seq(2L).toDF("v").write.parquet(new java.io.File(d2, "documents.parquet").getPath)
    val t = 1700000000000L
    assert(new java.io.File(d1, "documents.parquet").setLastModified(t))
    assert(new java.io.File(d2, "documents.parquet").setLastModified(t))
    val a = Memo.cachedParquet(spark, d1.getPath, "memospec_pq_dir", "documents.parquet")(
      spark.read.parquet(new java.io.File(d1, "documents.parquet").getPath))
    val b = Memo.cachedParquet(spark, d2.getPath, "memospec_pq_dir", "documents.parquet")(
      spark.read.parquet(new java.io.File(d2, "documents.parquet").getPath))
    assert(b.collect().map(_.getLong(0)).toSeq === Seq(2L))
    // the load-bearing assert: a's LAZY reads after b's build must still
    // see d1's corpus (pre-fix, b's overwrite re-pointed them at d2's)
    assert(a.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  /** ADVICE r12 (low): concurrent first builds of one key both wrote the
    * final path with mode=overwrite — the loser's overwrite raced the
    * winner's readers. Now each build lands in a unique temp dir and an
    * ATOMIC rename picks exactly one; the loser discards its files and
    * adopts the winner's index. A sibling session (same appId → same
    * scratch root, different cache key) exercises the loser branch
    * deterministically. */
  test("cachedParquet: the rename loser adopts the existing index and leaves no temp dirs") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memopqrace").toFile
    Seq(7L).toDF("v").write.parquet(new java.io.File(dir, "documents.parquet").getPath)
    val winner = Memo.cachedParquet(spark, dir.getPath, "memospec_pq_race",
      "documents.parquet")(
      spark.read.parquet(new java.io.File(dir, "documents.parquet").getPath))
    assert(winner.collect().map(_.getLong(0)).toSeq === Seq(7L))
    val s2 = spark.newSession()
    // the loser's build produces DIFFERENT rows; adopting the winner's
    // index (same (tag, dir, mtime) key ⇒ same logical content) is the
    // contract, so the result must be the winner's corpus
    val loser = Memo.cachedParquet(s2, dir.getPath, "memospec_pq_race",
      "documents.parquet")(Seq(99L).toDF("v"))
    assert(loser.collect().map(_.getLong(0)).toSeq === Seq(7L),
      "the loser must read the winner's landed index, not its own build")
    val scratch = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft-memo-${spark.sparkContext.applicationId}")
    val leftovers = Option(scratch.list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith("memospec_pq_race") && n.contains("_tmp_"))
    assert(leftovers.isEmpty, s"loser temp dirs must be cleaned: ${leftovers.toSeq}")
  }

  test("a dir given as a file: URI rebuilds after its source is rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("memospec_uri").toFile
    val src = new java.io.File(dir, "documents.parquet")
    java.nio.file.Files.writeString(src.toPath, "v1")
    val uri = s"file:${dir.getPath}"
    var builds = 0
    def build = {
      builds += 1
      Tables.documents(spark, sf).select("doc_id")
    }
    Memo.cached(spark, uri, "memospec_uri", "documents.parquet")(build)
    Memo.cached(spark, uri, "memospec_uri", "documents.parquet")(build)
    assert(builds === 1)
    java.nio.file.Files.writeString(src.toPath, "version two")
    assert(src.setLastModified(src.lastModified + 60000L))
    Memo.cached(spark, uri, "memospec_uri", "documents.parquet")(build)
    assert(builds === 2, "a rewritten source behind a file: URI must rebuild")
  }

  test("value on a dir with no source throws, naming the path") {
    val dir = java.nio.file.Files.createTempDirectory("memospec_missing").toFile
    val e = intercept[IllegalArgumentException](
      Memo.value(spark, dir.getPath, "documents.parquet", "memospec_missing")(1L))
    assert(e.getMessage.contains(s"${dir.getPath}/documents.parquet"), e.getMessage)
  }

  test("value builds once per key and logs exactly one build under its tag") {
    var builds = 0
    def build = { builds += 1; 41L + builds }
    Memo.drainBuilds()
    val a = Memo.value(spark, sf, "documents.parquet", "memospec_value", 1)(build)
    // JVM-scoped: a sibling session is served the same value
    val b = Memo.value(spark.newSession(), sf, "documents.parquet",
      "memospec_value", 1)(build)
    assert(builds === 1 && a === 42L && b === 42L)
    assert(Memo.drainBuilds().count(_._1 == "memospec_value") === 1)
    // a different key part is a different entry under the same tag
    assert(Memo.value(spark, sf, "documents.parquet", "memospec_value", 2)(build) === 43L)
    assert(builds === 2)
    assert(Memo.drainBuilds().map(_._1) === Seq("memospec_value"))
  }

  test("scratch cleanup at application end removes a scratch root") {
    // a fake appId's root: the shared session's own scratch must survive
    val root = Memo.scratchRootOf("memospec-fake-app")
    java.nio.file.Files.createDirectories(root.resolve("core_1_2/part"))
    java.nio.file.Files.writeString(root.resolve("core_1_2/part/f.parquet"), "x")
    Memo.scratchCleaner(root).onApplicationEnd(
      org.apache.spark.scheduler.SparkListenerApplicationEnd(0L))
    assert(!java.nio.file.Files.exists(root))
  }
}
