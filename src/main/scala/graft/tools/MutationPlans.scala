package graft.tools

import org.apache.spark.sql.functions._

/** r16 optimization evidence: dump the EXECUTED physical plans of the
  * persisted-index mutation jobs (save/append/delete) and the KMeans
  * update aggregate. The interesting plans of the index lifecycle live
  * in its WRITE and stats actions — none of them appear in any declared
  * query's returned frame, so `.explain` on the query output cannot
  * show them; a QueryExecutionListener captures each executed action's
  * plan instead. Usage: runMain graft.tools.MutationPlans <out.txt>
  * [sfDir]. */
object MutationPlans {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/mutation_plans.txt")
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.GraftSession.local("graft-mutation-plans", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    var label = "(unlabeled)"
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = sb.synchronized {
          sb.append(s"\n===== $label [$funcName] =====\n")
          sb.append(qe.explainString(
            org.apache.spark.sql.execution.SimpleMode))
          sb.append("\n")
        }
        def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    def stage(l: String)(body: => Unit): Unit = {
      label = l; body
      // listener delivery is async — settle before relabeling (a bounded
      // sleep is fine for an offline evidence dump)
      Thread.sleep(300)
    }
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sfDir)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("mutplans").toString

    stage("TextIndex.save")(
      graft.operators.TextIndex.save(docs, "doc_id", "text", s"$root/ti"))
    stage("TextIndex.append")(
      graft.operators.TextIndex.append(
        docs.select($"doc_id" + 100000L as "doc_id", $"text"),
        "doc_id", "text", s"$root/ti"))
    stage("TextIndex.delete")(
      graft.operators.TextIndex.delete(spark, s"$root/ti",
        docs.filter($"doc_id" % 5 === 0).select($"doc_id")))

    stage("MinHashIndex.save")(
      graft.operators.MinHashIndex.save(docs, "doc_id", "text", s"$root/mh"))
    stage("MinHashIndex.delete")(
      graft.operators.MinHashIndex.delete(spark, s"$root/mh",
        docs.filter($"doc_id" % 5 === 0).select($"doc_id")))

    val pq = graft.operators.ProductQuantizer.fit(
      emb, "vec_id", "embedding", m = 2, k = 4, iters = 1)
    val coarse = graft.operators.KMeans.fit(
      emb, "vec_id", "embedding", k = 4, iters = 1)
    sb.append("\n(The KMeans.fit update-stage aggregate plans are the " +
      "collect actions above this line.)\n")
    stage("ProductQuantizer.save (non-residual: assignment+encode artifact)")(
      graft.operators.ProductQuantizer.save(
        emb, "vec_id", "embedding", coarse, pq, s"$root/pq", residual = false))
    stage("ProductQuantizer.delete")(
      graft.operators.ProductQuantizer.delete(spark, s"$root/pq",
        emb.filter($"vec_id" % 5 === 0).select($"vec_id")))

    val ivf = graft.operators.IvfIndex.fit(emb, "vec_id", "embedding", 4)
    stage("IvfIndex.save")(
      graft.operators.IvfIndex.save(emb, "vec_id", "embedding", ivf, s"$root/ivf"))

    stage("IndexAudit.auditText")(
      graft.operators.IndexAudit.auditText(spark, s"$root/ti").collect())

    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote $out")
    spark.stop()
  }
}
