package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The batch workloads' query sets, by registry id (the `qNN` prefix of a
  * `graft.SparkEntry.queries` name). Each set is sized so that a pass fits
  * the benchmark's run length: most of these queries cost 0.3-1 s on four
  * cores, the training loops and method cards several seconds each. */
object Workloads {

  /** Scan-aggregate, windowed top-k, log compaction, sessionization and the
    * custom group-top-k plan. */
  val sql: Seq[String] = Seq("q01", "q20", "q42", "q46", "q143")

  /** An artifact build at DataFrame build time, its indexed read, and a
    * single-pass text kernel. */
  val llm: Seq[String] = Seq("q152", "q153", "q89")

  def batch(workload: String): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val ids = workload match {
      case "sql-analytics" => sql
      case "llm-pipeline" => llm
      case _ => throw new IllegalArgumentException(s"unknown batch workload $workload")
    }
    val all = graft.SparkEntry.queries
    ids.map { id =>
      all.find(_._1.takeWhile(_ != '_') == id)
        .getOrElse(throw new IllegalArgumentException(s"no registered query $id"))
    }
  }
}
