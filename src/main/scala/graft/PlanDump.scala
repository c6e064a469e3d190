package graft

import java.nio.file.{Files, Paths}

/** Optimization-round evidence dumper: writes
  * `plans/<tag>/<entry>_<suffix>.txt` with the `explain("formatted")`
  * output of each named SparkEntry query at the given SF dir — the
  * before/after plan artifacts the optimization deliverable commits
  * (plan claims are checked against these files, not against prose).
  *
  * Env: SPARK_GRAFT_ONLY=<entry[,entry]> (required),
  * SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_PLAN_TAG (default
  * "r15"), SPARK_GRAFT_PLAN_SUFFIX ("before" | "after", required).
  * The session is built as graft.Bench builds it, so the dumped plan
  * is the plan the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "r15")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX",
      sys.error("PlanDump: set SPARK_GRAFT_PLAN_SUFFIX=before|after"))
    // validated before the session starts: a typo'd name fails here,
    // named, not mid-list with the session left running
    val names = SparkEntry.selectedEntries(Some(sys.env.getOrElse(
      SparkEntry.OnlyEnv, sys.error("PlanDump: set SPARK_GRAFT_ONLY=<entry[,entry]>"))))
    val spark = GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Paths.get(s"plans/$tag")
    Files.createDirectories(dir)
    try names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        .replaceAll("0x[0-9A-Fa-f]{64}[0-9A-Fa-f]*", "0x<elided-binary>")
      Files.writeString(dir.resolve(s"${name}_$suffix.txt"),
        s"# $name @ $sfDir ($suffix)\n\n" + txt)
      println(s"wrote plans/$tag/${name}_$suffix.txt")
    } finally spark.stop()
  }
}
