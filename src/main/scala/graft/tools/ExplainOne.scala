package graft.tools

/** Dev aid: print the formatted physical plan of one SparkEntry query
  * (`runMain graft.tools.ExplainOne <name> [sfDir]`) — the .explain
  * iteration loop the build discipline asks for, without editing query
  * code. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.core.GraftSession.local("graft-explain", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    spark.stop()
  }
}
