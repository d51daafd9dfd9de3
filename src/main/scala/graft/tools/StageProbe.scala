package graft.tools

import graft.{GraftSession, SparkEntry}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Profiling main (not part of the library surface): runs ONE named
  * query and prints a per-stage summary (task count, stage wall ms,
  * task-time sum, shuffle bytes) plus job count and total job-gap
  * time — the measurement for the graph-loop per-round constant
  * question (VERDICT r16 #3). Honors SPARK_GRAFT_CPUS /
  * SPARK_GRAFT_SHUFFLE (shuffle partitions, default the core count) /
  * SPARK_GRAFT_CONF (extra `k=v;k=v` confs).
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProbe <query> [sfDir]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.tunedConf.foreach { case (k, v) => spark.conf.set(k, v) }
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('=')).foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    spark.sparkContext.setLogLevel("WARN")

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warm-up: JIT + codegen, and the artifact builds
    materialize(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001"))
    materialize(SparkEntry.queries(name)(spark, sfDir))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

    val stages = scala.collection.mutable.ArrayBuffer[(Int, String, Int, Long, Long, Long, Long, Long, Long, Long)]()
    val jobStarts = scala.collection.mutable.ArrayBuffer[Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStarts.synchronized { jobStarts += js.time }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {
          a <- si.completionTime; b <- si.submissionTime
        } yield a - b).getOrElse(-1L)
        stages.synchronized {
          stages += ((si.stageId, si.name.takeWhile(_ != '(').trim, si.numTasks, wall,
            si.taskMetrics.executorRunTime,
            si.taskMetrics.shuffleReadMetrics.totalBytesRead,
            si.taskMetrics.shuffleWriteMetrics.bytesWritten,
            si.taskMetrics.executorDeserializeTime,
            si.taskMetrics.jvmGCTime,
            si.taskMetrics.executorCpuTime / 1000000L))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    materialize(SparkEntry.queries(name)(spark, sfDir))
    val dt = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300)
    println(f"QUERY $name  wall ${dt}%.2f s  jobs ${jobStarts.size}  stages ${stages.size}")
    println(f"${"id"}%5s ${"tasks"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"cpu_ms"}%8s ${"deser"}%6s ${"gc"}%5s ${"shufR"}%9s ${"shufW"}%9s  stage")
    stages.sortBy(_._1).foreach { case (id, n, t, w, r, sr, sw, de, gc, cpu) =>
      println(f"$id%5d $t%6d $w%8d $r%8d $cpu%8d $de%6d $gc%5d $sr%9d $sw%9d  $n")
    }
    val wallSum = stages.map(_._4).sum
    println(f"stage wall sum $wallSum ms vs query ${Math.round(dt * 1000)} ms (gap = driver/planning)")
    spark.stop()
  }
}
