package qbench

/** Generates DataGen's fixed tables:
  * `Fixtures <dir> sf0.1 [sf0.01 ...]` writes `<dir>/<scale>/<table>.parquet`. */
object Fixtures {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    for (scale <- args.tail)
      graft.tools.DataGen.main(Array(scale.stripPrefix("sf"), s"$dir/$scale"))
  }
}
