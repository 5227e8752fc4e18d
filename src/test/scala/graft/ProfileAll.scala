package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions.{col, sum, xxhash64}
import org.apache.spark.sql.graftshim.ListenerBusShim

/** The one diagnostics tool: split every declared query's bench wall
  * into ANALYSIS (plan build + optimize + physical plan) vs EXECUTION,
  * count jobs / stages / tasks / shuffle bytes per query, and audit
  * the AQE final plan with the shared [[PlanWalk]] rules PlanAuditSpec
  * pins — the number of broadcast exchanges, and whether any of them
  * builds from a RAW `lineitem` scan (the shape that inverts a join
  * once the fact side outgrows the broadcast threshold). Mirrors
  * Bench's methodology (checksum action, clearCache + GC between
  * runs, one discarded warm-up).
  *
  * `plan_sha` identifies the query's plan where the counters cannot:
  * the jobs, stages and shuffle bytes of one plan can differ between
  * runs, so two trees are compared on this column instead (see
  * [[planSha]]).
  *
  *   sbt "Test/runMain graft.ProfileAll [query ...]"
  */
object ProfileAll {

  /** SHA-1 of a query's physical plan, planned with AQE off (the
    * adaptive plan depends on runtime statistics). The plan is first
    * normalized (normalizedPlan), then each line is hashed as the sorted
    * multiset of its space- and comma-separated items: Spark orders
    * some items by a per-JVM hash (the distinct-aggregate groups of an
    * Expand), so two runs of one plan can list them in either order.
    */
  def planSha(spark: SparkSession, build: => DataFrame): String = {
    val lines = normalizedPlan(spark, build).linesIterator
      .map(_.split("[\\s,]+").sorted.mkString(" "))
    MessageDigest.getInstance("SHA-1")
      .digest(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** A query's physical plan, planned with AQE off and with untruncated
    * scan metadata (a truncated string cuts at a length that depends on
    * the ids' digits), with what differs between two runs of one plan
    * normalized: expression ids (`#12`), generated names (`x_3`,
    * `_common_expr_0`), plan and RDD ids, lambda classes, object hashes
    * and temp-dir suffixes. Print it to see why two trees' shas differ.
    */
  def normalizedPlan(spark: SparkSession, build: => DataFrame): String = {
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.maxMetadataStringLength" -> Int.MaxValue.toString)
    val was = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val plan = try build.queryExecution.executedPlan.toString
      finally was.foreach { case (k, v) => spark.conf.set(k, v) }
    plan
      .replaceAll("#\\d+", "#")
      .replaceAll("_\\d+#", "_#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$Lambda")
      .replaceAll("@[0-9a-f]+\\b", "@")
      .replaceAll("\\d{9,}", "N")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Sessions.applyShufflePartitions(spark, sfDir, cpus): Unit
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var shufWrite = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        shufWrite += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks += 1
    }
    spark.sparkContext.addSparkListener(listener)
    // listener events arrive asynchronously: drain the bus before a
    // reset and before a read, so no query's events count for another
    def flushBus(): Unit = ListenerBusShim.flush(spark.sparkContext): Unit

    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    println("query,total_s,analysis_s,exec_s,jobs,stages,tasks,shuffle_kb," +
      "broadcasts,fact_bcast,plan_sha")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm-up (discarded, pays codegen/JIT)
      try {
        val df = fn(spark, sfDir)
        df.agg(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).collect()
      } catch { case e: Throwable => println(s"$name,FAILED,${e.getClass.getSimpleName}") }
      spark.catalog.clearCache(); System.gc()
      // timed run, split into analysis vs execution
      try {
        flushBus()
        jobs = 0; stages = 0; tasks = 0; shufWrite = 0L
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val agg = df.agg(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
        agg.queryExecution.executedPlan // forces analysis+optimization+planning
        val t1 = System.nanoTime()
        agg.collect()
        val t2 = System.nanoTime()
        flushBus()
        // after the action the adaptive plan is final
        val plan = agg.queryExecution.executedPlan
        val bcasts = PlanWalk.expand(plan)
          .count(_.isInstanceOf[BroadcastExchangeExec])
        val factBcast = PlanWalk.broadcastsRawScan(plan, "lineitem.parquet")
        def f(n: Long) = String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(n / 1e9))
        spark.catalog.clearCache()
        val sha = planSha(spark, fn(spark, sfDir))
        println(s"$name,${f(t2 - t0)},${f(t1 - t0)},${f(t2 - t1)},$jobs," +
          s"$stages,$tasks,${shufWrite / 1024},$bcasts,$factBcast,$sha")
      } catch { case e: Throwable => println(s"$name,FAILED,${e.getClass.getSimpleName}") }
      spark.catalog.clearCache(); System.gc()
    }
    spark.stop()
  }
}
