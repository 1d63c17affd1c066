package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The plan run.py writes: `key value` lines, plus one line per operation
  * in the order the client issues them. The JVM never draws anything from
  * the seed itself — it only executes the generated inputs. */
final case class Plan(keys: Map[String, String], ops: Vector[Vector[String]]) {
  def apply(k: String): String =
    keys.getOrElse(k, throw new IllegalArgumentException(s"plan has no '$k'"))
  def opsOf(kind: String): Vector[Vector[String]] = ops.filter(_.head == kind)
}

object Plan {
  private val opKinds = Set("warm", "query", "read")

  def read(p: Path): Plan = {
    val lines = scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).map(_.split("\\s+").toVector).toVector
    val (ops, kv) = lines.partition(l => opKinds(l.head))
    Plan(kv.map(l => l.head -> l.drop(1).mkString(" ")).toMap, ops)
  }
}

/** Order-insensitive result fingerprint: (row count, Σ xxhash64 as an exact
  * decimal, bit_xor of the same hashes). The sum is what the xor alone
  * lacks: two identical rows cancel under xor, never under the sum. */
final case class Sums(rows: Long, sum: java.math.BigDecimal, xor: Long) {
  def json: String = s"""{"rows":$rows,"sum":"${sum.toPlainString}","xor":$xor}"""
}

object Sums {
  /** Evaluates every column of `df` (the same full-column hash action as
    * `graft.Bench.evaluate`), so Catalyst cannot prune any of the work. */
  def of(df: DataFrame): Sums = {
    val h = xxhash64(df.columns.toIndexedSeq.map(df.apply): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), expr("bit_xor(h)"))
      .head()
    Sums(r.getLong(0),
      if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** A document is one row: Spark's xxhash64 of its UTF-8 bytes (seed 42),
    * computed on the driver so checking a read adds no Spark job. */
  def ofString(s: String): Sums = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    Sums(1L, java.math.BigDecimal.valueOf(h), h)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** Directory trees: the run's source copies, cache and scratch. */
object Tree {
  /** Copies a directory tree. Copies get new mtimes, so every mtime- or
    * path-keyed cache in the program sees a source it has never seen. */
  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x): Unit)
      finally s.close()
    }
}
