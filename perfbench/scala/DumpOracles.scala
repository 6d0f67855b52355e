package graft.perfbench

/** Writes the DuckDB oracle SQL of every gate the benchmark checks, as a
  * JSON object, for perfbench/oracle_digests.py.
  *
  *   graft.perfbench.DumpOracles <out.json>
  */
object DumpOracles {
  val checked: Seq[String] = GatesShort.gates

  def main(args: Array[String]): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    val missing = checked.filterNot(oracles.contains)
    require(missing.isEmpty, s"gates without an oracle: $missing")
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = checked.map(g => s"  ${q(g)}: ${q(oracles(g))}").mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)), json.getBytes("UTF-8"))
  }
}
