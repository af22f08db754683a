package graft

import java.util.concurrent.LinkedBlockingQueue

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SimpleMode}
import org.apache.spark.sql.util.QueryExecutionListener

/** The plan tool (see PLANS.md): for each SparkEntry query, its returned
  * frame's formatted physical plan, then the executed plan of every
  * action its `run` launched. Those actions carry the plans no returned
  * frame shows — index saves, appends and deletes (q213, q220), the
  * KMeans update aggregates (q81), stats collects. With no names it walks
  * the whole catalog.
  * Usage: runMain graft.Plans [sfDir] [queryName...] */
object Plans {
  private val Marker = "__plans_marker"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = graft.core.GraftSession.local("graft-plans", 8)
    spark.sparkContext.setLogLevel("ERROR")
    // None marks the end of a query's actions (see `actionPlans`)
    val reports = new LinkedBlockingQueue[Option[String]]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        reports.put(
          if (qe.analyzed.output.exists(_.name == Marker)) None
          else Some(s"----- action: $funcName -----\n" +
            qe.explainString(SimpleMode)))
      def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    // Listener delivery is asynchronous but in order: once a marker
    // action is reported, every action before it has been too.
    def actionPlans(): Seq[String] = {
      spark.range(1).toDF(Marker).collect()
      Iterator.continually(reports.take()).takeWhile(_.isDefined).flatten.toSeq
    }
    SparkEntry.allQueries.filter(q => only.isEmpty || only(q.name)).foreach { q =>
      println(s"\n===== ${q.name} =====")
      println(q.run(spark, sfDir).queryExecution.explainString(FormattedMode))
      actionPlans().foreach(println)
    }
    spark.stop()
  }
}
