package graft

import org.apache.spark.sql.SparkSession

/** Single place to build/configure the engine's SparkSession so every entry
  * point (Verify, Bench, tests) runs with identical session state — no
  * accessor-level conf mutation (ADVICE r1: order-dependent global state).
  */
object Sessions {

  /** Confs the engine requires beyond Spark defaults. */
  val engineConfs: Map[String, String] = Map(
    // events.parquet carries TIMESTAMP(NANOS); the vectorized reader rejects
    // it unless nanos are surfaced as long (Tables.events converts to µs).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC"
  )

  /** local[N] session for driver-run mains; shuffle partitions = cores per
    * the driver contract (local mode — a real cluster would size these to
    * 2-3× total executor cores). */
  def local(cpus: String, appName: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      // Let the shuffle partition COUNT scale with the data instead of
      // being pinned to the core count: AQE starts every exchange at 512
      // partitions and coalesces down to the byte-size/parallelism target
      // at runtime. At the gate scale (sf0.1) shuffles are tens of MB, so
      // AQE coalesces right back to ~cores and plans are unchanged; at the
      // sf100 rehearsal a 32-way shuffle meant 2 GB sort/hash partitions —
      // the source of a13's 12.8× and f1's 17.8× per-decade superlinearity
      // (spill, not compute). 512 initial keeps those partitions ≤ ~125 MB.
      // On a real cluster this is exactly AQE's documented role.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // NOT set: spark.serializer=Kryo — A/B'd for the r14 RDD round loops
      // (graph family) and measured a wash at gate scale (the loop shuffles
      // are row-count-bound, not byte-bound); the default stays.
      // Shuffle files are reaped only when their ShuffleDependency is
      // GC'd; with rehearsal-sized heaps full GCs can be 30+ min apart
      // (the default periodicGC interval), long enough for a multi-query
      // run's dead shuffle files to fill the disk (sf100: ENOSPC).
      .config("spark.cleaner.periodicGC.interval", "5min")
    engineConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
