package etlbench

import java.nio.file.Paths

/** Prints the output digest of every query of the query workloads, as
  * the JSON committed in `digests.json`. Record only at a tree whose
  * engine reads exact against the DuckDB oracle on the same fixture.
  *
  * Usage: RecordDigests (from the repository root, like Main)
  */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val benchDir = Paths.get(sys.props.getOrElse("etlbench.dir", "etlbench")).toAbsolutePath
    val spark = Main.session("relational_short", benchDir)
    try {
      val dir = QueryWorkload.fixtureDir(benchDir)
      val byWorkload = Seq("relational_short" -> Workloads.RelationalShort, "llm_curation" -> Workloads.LlmCuration)
        .map { case (w, names) =>
          val entries = names.map { n =>
            Main.clearCaches(spark)
            s"""    "$n": "${Digest.of(graft.SparkEntry.queries(n)(spark, dir))}""""
          }
          s"""  "$w": {\n${entries.mkString(",\n")}\n  }"""
        }
      println(byWorkload.mkString("{\n", ",\n", "\n}"))
    } finally spark.stop()
  }
}
