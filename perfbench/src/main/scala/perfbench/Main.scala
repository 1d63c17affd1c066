package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.{Memo, Pipelines, Sessions, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Benchmark client: one JVM, one client thread, closed loop. It reads the
  * plan run.py generated from the seed, runs one workload (or the untimed
  * `expect` mode that records reference results), and writes raw samples
  * and fingerprints to the plan's `out` file. run.py checks the
  * fingerprints and computes every statistic.
  *
  * Usage: perfbench.Main <plan-file> */
object Main {
  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (now() - t0) / 1e9

  /** One check: a fingerprint and, when it is computed in-run, what it
    * should be; otherwise run.py looks `name` up in expected.json. */
  final case class Check(name: String, got: Either[String, Sums], want: Option[Sums] = None) {
    def json: String = Json.obj(Seq("name" -> Json.str(name)) ++
      got.fold(e => Seq("error" -> Json.str(e)), s => Seq("got" -> s.json)) ++
      want.map(w => "want" -> w.json))
  }

  private def attempt(name: String)(f: => Sums): Check =
    try Check(name, Right(f))
    catch { case e: Throwable => Check(name, Left(describe(e))) }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  final class Run(val plan: Plan) {
    val (spark: SparkSession, sessionS: Double) = {
      val t0 = now()
      (Sessions.local(plan("cores"), s"perfbench-${plan("mode")}"), secs(t0))
    }
    val work: Path = Paths.get(plan("work"))
    val tracer: Option[Tracer] = if (plan("trace") == "1") Some(new Tracer(spark)) else None
    val runSpan: Int = tracer.map(_.open()).getOrElse(0)
    val setup = ArrayBuffer.empty[(String, String)]
    val setupChecks = ArrayBuffer.empty[Check]
    val ops = ArrayBuffer.empty[String]
    /** Seconds of set-up spent checking outputs, which set-up time excludes. */
    var verifyS = 0.0
    private var copies = 0

    def verify[T](f: => T): T = {
      val t0 = now()
      try f finally verifyS += secs(t0)
    }

    /** A fresh copy of `src` at a new path with new mtimes. */
    def freshCopy(src: String, tag: String): String = {
      copies += 1
      val dst = work.resolve(s"$tag-$copies")
      Tree.copyTree(Paths.get(src), dst)
      dst.toString
    }

    /** Runs `f` as a call into `layer`; traced runs record a span and the
      * phase's Spark counters under the parent span. */
    def call[T](parent: Int, name: String, layer: String, traced: Boolean)(
        f: => T): (T, Double, Option[(Counters, Long)]) = tracer match {
      case Some(tr) if traced =>
        val w0 = System.currentTimeMillis()
        val (r, dt, c) = tr.phase(s"$parent.$name")(f)
        val w1 = w0 + (dt * 1000).round
        val id = tr.open()
        tr.close(id, parent, name, layer, w0, w1)
        tr.jobSpans(id, c)
        (r, dt, Some((c, w0)))
      case _ =>
        val t0 = now()
        val r = f
        (r, secs(t0), None)
    }
  }

  private def memo(): (Int, Double) = {
    val b = Memo.drainBuilds()
    (b.size, b.map(_._2).sum)
  }

  private def phaseJson(layer: String, wall: Double, memoB: (Int, Double),
                        tr: Option[(Counters, Long)]): String =
    Json.obj(Seq("layer" -> Json.str(layer), "wall_s" -> Json.num(wall),
      "memo_builds" -> memoB._1.toString, "memo_s" -> Json.num(memoB._2)) ++
      tr.map { case (c, w0) => "counters" -> c.json(w0, (wall * 1000).round) })

  /** Runs the panel once on a source copy of its own. A warm-up on a tiny
    * source left the first timed pass ~20 % slower than the second, with
    * JIT compilation inside it; warmed on the full source, no timed query
    * pays for that, and none finds a Memo core built for it. */
  private def warmUp(run: Run): Unit = {
    val t0 = now()
    val dir = run.freshCopy(run.plan("source"), "warm")
    run.plan.opsOf("warm").foreach { op =>
      try Sums.of(SparkEntry.queries(op(3))(run.spark, dir))
      catch { case e: Throwable => System.err.println(s"[perfbench] warm-up ${op(3)} failed: ${describe(e)}") }
    }
    Tree.delete(Paths.get(dir))
    memo()
    run.setup += "warmup_s" -> Json.num(secs(t0))
  }

  /** Runs the plan's operation groups of `kind` in order, each through
    * `group`: at least `min_groups` of them, and no new one once the run's
    * time is up. Returns the measured seconds. */
  private def timedGroups(run: Run, kind: String)(group: Seq[Vector[String]] => Unit): Double = {
    val groups = run.plan.opsOf(kind).groupBy(_(1).toInt).toSeq.sortBy(_._1).map(_._2)
    val minGroups = run.plan("min_groups").toInt
    val budget = run.plan("seconds").toDouble
    val t0 = now()
    groups.iterator.zipWithIndex
      .takeWhile { case (_, i) => i < minGroups || secs(t0) < budget }
      .foreach { case (ops, _) => group(ops) }
    secs(t0)
  }

  /** One registry query on the source copy `dir`: construction (the query
    * function call, with its eager checkpoints and collects), then the
    * full-column hash action. Memo builds are timed inside both. */
  private def runQuery(run: Run, dir: String, i: Int, name: String, module: String,
                       traced: Boolean): String = {
    memo()
    val w0 = System.currentTimeMillis()
    val t0 = now()
    val opSpan = run.tracer.filter(_ => traced).map(_.open()).getOrElse(0)
    val phases = ArrayBuffer.empty[String]
    val check = attempt(s"query:$name") {
      val fn = SparkEntry.queries.getOrElse(name,
        throw new NoSuchElementException(s"$name is not in SparkEntry.queries"))
      val (df, c, ct) = run.call(opSpan, "construct", module, traced)(fn(run.spark, dir))
      phases += phaseJson("construct", c, memo(), ct)
      val (sums, e, et) = run.call(opSpan, "exec", module, traced)(Sums.of(df))
      phases += phaseJson("exec", e, memo(), et)
      sums
    }
    val wall = secs(t0)
    memo()
    run.tracer.filter(_ => traced).foreach(_.close(opSpan, run.runSpan, s"query $name",
      "client", w0, w0 + (wall * 1000).round))
    Json.obj(Seq("i" -> i.toString, "kind" -> Json.str("query"), "name" -> Json.str(name),
      "module" -> Json.str(module), "traced" -> traced.toString, "wall_s" -> Json.num(wall),
      "start_ms" -> w0.toString, "checks" -> Json.arr(Seq(check.json)),
      "phases" -> Json.arr(phases.toSeq)))
  }

  /** Passes over the panel, each on one fresh source copy, so the queries
    * of a pass share Memo cores and table scans and each pass pays the
    * builds it needs. */
  private def queries(run: Run): Unit = {
    warmUp(run)
    val setupS = setupDone(run)
    var i = 0
    val measured = timedGroups(run, "query") { pass =>
      val dir = run.freshCopy(run.plan("source"), "pass")
      pass.foreach { op =>
        run.ops += runQuery(run, dir, i, op(3), op(4), op(2) == "1")
        i += 1
      }
      Tree.delete(Paths.get(dir))
    }
    finish(run, setupS, measured)
  }

  /** Keys and points of the cached area series, in keyset order: the
    * reference every page read is checked against. */
  final case class Area(keys: Array[(Long, Long)], cum: Array[Long]) {
    def pageJson(from: Int, size: Int): String = {
      val end = math.min(keys.length, from + size)
      val pts = (from until end).map(j =>
        s"""{"height":${keys(j)._2},"burn_fee":${cum(j)},"address":${keys(j)._1}}""")
      val next =
        if (end - from < size) "null"
        else s"""{"address":${keys(end - 1)._1},"height":${keys(end - 1)._2}}"""
      s"""{"data":[${pts.mkString(",")}],"next":$next}"""
    }
  }

  /** Builds the cache the way the service does on a tick: a full
    * refreshCache, then the incremental block_info refresh from a height
    * in the tip buckets. Both read a fresh source copy. */
  private def buildCache(run: Run, incrBelowTip: Long): Path = {
    val relations = run.plan("relations").split(" ").toSeq
    val src = run.freshCopy(run.plan("source"), "src")
    val cache = run.work.resolve("cache")
    memo()
    val (_, full, ft) = run.call(run.runSpan, "refreshCache", "pipelines", traced = true)(
      Pipelines.refreshCache(run.spark, src, cache.toString))
    val cacheBytes = Tree.bytes(cache)
    val tip = run.spark.read.parquet(cache.resolve("chain_tip").toString)
      .select(col("tip_height")).head().getLong(0)
    val from = tip - incrBelowTip
    val (_, incr, it) = run.call(run.runSpan, "refreshBlockInfoIncremental", "pipelines",
      traced = true)(Pipelines.refreshBlockInfoIncremental(run.spark, src, cache.toString, from))
    val (memoBuilds, memoS) = memo()
    run.setup ++= Seq("refresh_full_s" -> Json.num(full), "refresh_incr_s" -> Json.num(incr),
      "incr_from_height" -> from.toString, "cache_bytes" -> cacheBytes.toString,
      "memo_builds" -> memoBuilds.toString, "memo_build_s" -> Json.num(memoS),
      "relation_bytes" -> Json.obj(relations.map(r =>
        r -> Tree.bytes(cache.resolve(r)).toString)))
    ft.foreach { case (c, w0) =>
      // a relation is charged every SQL execution since the previous
      // relation's write, so Memo builds it triggers count as its own
      var pending = 0L
      val perRelation = c.writes.toSeq.flatMap { case (p, ms) =>
        pending += ms
        val path = Paths.get(new java.net.URI(p))
        if (path.getParent != cache) None
        else { val r = path.getFileName.toString -> pending.toString; pending = 0L; Some(r) }
      }
      run.setup += "relation_write_ms" -> Json.obj(perRelation)
      run.setup += "refresh_counters" -> c.json(w0, (full * 1000).round)
    }
    it.foreach { case (c, w0) => run.setup += "incr_counters" -> c.json(w0, (incr * 1000).round) }
    run.verify(relations.foreach { r =>
      run.setupChecks += attempt(s"relation:$r")(
        Sums.of(run.spark.read.parquet(cache.resolve(r).toString)))
    })
    cache
  }

  private def readArea(run: Run, cache: Path): Area = {
    val rows = run.spark.read.parquet(cache.resolve("burn_fee_area").toString)
      .select(col("address"), col("height"), col("cum_filled"))
      .orderBy(col("address"), col("height")).collect()
    Area(rows.map(r => (r.getLong(0), r.getLong(1))), rows.map(_.getLong(2)))
  }

  /** One read: the dashboard document, or one keyset page of the full
    * area series from the cursor at the op's fraction of the series. Its
    * wall time is that of the program call alone. */
  private def runRead(run: Run, cache: Path, area: Area, i: Int, op: Vector[String],
                      traced: Boolean): String = {
    val kind = op(3)
    val pageSize = run.plan("page_size").toInt
    val (name, want, read) = kind match {
      case "dashboard" => ("dashboard", None, () => Pipelines.dashboard(run.spark, cache.toString))
      case "page" =>
        val pos = (op(4).toDouble * math.max(0, area.keys.length - pageSize)).toInt
        val cursor = if (pos == 0) None else Some(area.keys(pos - 1))
        (s"page@$pos", Some(Sums.ofString(area.pageJson(pos, pageSize))),
          () => Pipelines.burnFeeAreaPageJson(run.spark, cache.toString, cursor, pageSize))
      case k => throw new IllegalArgumentException(s"unknown read '$k'")
    }
    val w0 = System.currentTimeMillis()
    val opSpan = run.tracer.filter(_ => traced).map(_.open()).getOrElse(0)
    val phases = ArrayBuffer.empty[String]
    var wall = 0.0
    val check =
      try {
        val (doc, d, tr) = run.call(opSpan, kind, "pipelines", traced)(read())
        wall = d
        phases += phaseJson(kind, d, memo(), tr)
        Check(name, Right(Sums.ofString(doc)), want)
      } catch { case e: Throwable => Check(name, Left(describe(e)), want) }
    run.tracer.filter(_ => traced).foreach(_.close(opSpan, run.runSpan, s"$kind $i",
      "client", w0, w0 + (wall * 1000).round))
    Json.obj(Seq("i" -> i.toString, "kind" -> Json.str(kind), "name" -> Json.str(name),
      "module" -> Json.str("Pipelines"), "traced" -> traced.toString, "wall_s" -> Json.num(wall),
      "start_ms" -> w0.toString, "checks" -> Json.arr(Seq(check.json)),
      "phases" -> Json.arr(phases.toSeq)))
  }

  /** Reads over a cache built in set-up, block by block. Set-up time
    * leaves out the checks of the cache and the read of the reference
    * series the pages are checked against. */
  private def serve(run: Run): Unit = {
    val cache = buildCache(run,
      (run.plan("incr").toDouble * run.plan("incr_span").toLong).toLong)
    val area = run.verify(readArea(run, cache))
    val reads = run.plan.opsOf("read")
    // the first block once untimed, so no timed read pays first-read costs
    reads.filter(_(1) == "0").foreach(op => runRead(run, cache, area, -1, op, traced = false))
    val setupS = setupDone(run) - run.verifyS
    var i = 0
    val measured = timedGroups(run, "read") { block =>
      block.foreach { op =>
        run.ops += runRead(run, cache, area, i, op, op(2) == "1")
        i += 1
      }
    }
    run.setup += "verify_s" -> Json.num(run.verifyS)
    finish(run, setupS, measured)
  }

  /** Untimed reference mode: every registry query `passes` times, each on
    * its own fresh copy (fingerprints must agree across passes), then the
    * cache relations and the dashboard document. */
  private def expect(run: Run): Unit = {
    val passes = run.plan("passes").toInt
    val names = SparkEntry.queries.keys.toSeq.sorted
    for (p <- 0 until passes; (n, i) <- names.zipWithIndex) {
      val dir = run.freshCopy(run.plan("source"), "q")
      run.ops += runQuery(run, dir, p * names.size + i, n, "", traced = false)
      Tree.delete(Paths.get(dir))
      System.err.println(s"[perfbench] expect pass $p $n")
    }
    val cache = buildCache(run, 0L)
    run.setupChecks += attempt("dashboard")(
      Sums.ofString(Pipelines.dashboard(run.spark, cache.toString)))
    // documents are fingerprinted on the driver; this ties that hash to
    // Spark's xxhash64, which fingerprints every relation
    run.setupChecks += {
      val doc = Pipelines.dashboard(run.spark, cache.toString)
      val viaSpark = attempt("dashboard-hash") {
        import run.spark.implicits._
        Sums.of(Seq(doc).toDF("doc"))
      }
      viaSpark.copy(want = Some(Sums.ofString(doc)))
    }

    finish(run, setupDone(run), 0.0)
  }

  private var setupEndMs = 0L
  private def setupDone(run: Run): Double = {
    setupEndMs = System.currentTimeMillis()
    (setupEndMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  }

  private def finish(run: Run, setupS: Double, measuredS: Double): Unit = {
    val spansPath = run.tracer.map { tr =>
      val p = Paths.get(run.plan("spans"))
      val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      tr.close(tr.open(), run.runSpan, "setup", "run", jvmStart, setupEndMs)
      tr.close(run.runSpan, 0, s"run ${run.plan("mode")}", "run", jvmStart,
        System.currentTimeMillis())
      Files.writeString(p, Tracer.spansJsonl(tr.spans))
      tr.stop()
      p.toString
    }
    val rt = Runtime.getRuntime
    val env = Json.obj(Seq(
      "spark" -> Json.str(run.spark.version),
      "jdk" -> Json.str(System.getProperty("java.runtime.version")),
      "xmx_mb" -> (rt.maxMemory / (1024 * 1024)).toString,
      "master" -> Json.str(run.spark.sparkContext.master),
      "default_parallelism" -> run.spark.sparkContext.defaultParallelism.toString))
    val out = Json.obj(Seq(
      "env" -> env,
      "setup_s" -> Json.num(setupS),
      "session_s" -> Json.num(run.sessionS),
      "measured_s" -> Json.num(measuredS),
      "setup" -> Json.obj(run.setup.toSeq),
      "setup_checks" -> Json.arr(run.setupChecks.toSeq.map(_.json)),
      "ops" -> Json.arr(run.ops.toSeq),
      "spans" -> spansPath.map(Json.str).getOrElse("null")))
    Files.writeString(Paths.get(run.plan("out")), out + "\n")
  }

  def main(args: Array[String]): Unit = {
    val plan = Plan.read(Paths.get(args(0)))
    val run = new Run(plan)
    try plan("mode") match {
      case "queries" => queries(run)
      case "serve" => serve(run)
      case "expect" => expect(run)
      case m => throw new IllegalArgumentException(s"unknown mode '$m'")
    } finally run.spark.stop()
  }
}
