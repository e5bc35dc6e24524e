package qbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query output: row count plus a sum and an
  * xor of per-row hashes. Doubles and floats are rounded to 6 decimals
  * (and -0.0 folded into 0.0) at every nesting depth, the normalization the
  * DuckDB oracle check applies, so a low-order-bit difference from a
  * different aggregation order does not read as a wrong answer. */
object Digest {

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) if fs.nonEmpty =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h")))
      .head()
    val names = df.schema.fieldNames.mkString(",")
    f"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0L)}:${Option(r.get(2)).getOrElse(0L)}:${names.hashCode}%08x"
  }
}

/** Outputs recorded at the commit that defined the benchmark, in
  * qbench/expected/digests.txt: one `<workload> <name> <value>` a line.
  * With `record` set, [[check]] collects what it sees and [[save]] writes it
  * in place of the workload's old lines. */
final class Expected(path: String, workload: String, record: Boolean) {
  private val file = java.nio.file.Paths.get(path)
  private val lines: Seq[String] =
    if (java.nio.file.Files.exists(file)) java.nio.file.Files.readAllLines(file).toArray.map(_.toString).toSeq
    else Seq.empty
  private val want: Map[String, String] = {
    val line = s"""^$workload\\s+(\\S+)\\s+(\\S+)$$""".r
    lines.collect { case line(n, v) => n -> v }.toMap
  }
  private val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Compares `got` with the recorded value of `name`; a mismatch fails the run's checks. */
  def check(r: Result, name: String, got: String): Boolean = {
    seen(name) = got
    record || r.check(s"recorded $name", want.get(name).contains(got),
      s"expected ${want.getOrElse(name, "<none recorded>")} got $got")
  }

  def save(): Unit = if (record) {
    val kept = lines.filterNot(_.startsWith(s"$workload "))
    val added = seen.toSeq.map { case (n, v) => s"$workload $n $v" }
    java.nio.file.Files.writeString(file, (kept ++ added).sorted.mkString("", "\n", "\n"))
  }
}
