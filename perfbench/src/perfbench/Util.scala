package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame

object Util {
  /** Catalyst phase times of an executed query, from its own
    * `QueryPlanningTracker` (analysis ran eagerly when the frame was built;
    * optimization and physical planning ran when it executed). */
  def notePlans(rec: Recorder, df: DataFrame): Unit = if (rec.traced) {
    val ph = df.queryExecution.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    rec.note("plans", Map("analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning")))
  }

  /** Whether the physical scan prunes on the probed IVF partitions. */
  def probeRewritten(df: DataFrame): Boolean =
    "PartitionFilters: \\[[^\\]]*partition_id".r
      .findFirstIn(df.queryExecution.executedPlan.toString).isDefined

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  /** (bytes, files) of the regular files under `path`. */
  def du(path: String): (Long, Long) = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatMap(_.iterator).flatMap(walk)
      else Iterator(f)
    walk(new File(path)).foldLeft((0L, 0L)) { case ((b, n), f) => (b + f.length, n + 1) }
  }
}
