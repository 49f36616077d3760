package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** r16 measurement harness (guide §1): run ONE registered query with a
  * stage listener and print per-stage wall/CPU/shuffle metrics, so an
  * optimization targets the stage that actually costs instead of a guess.
  * Dev tool only — never on a query path.
  *
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.tools.Prof <query> [reps]"
  */
object Prof {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Prof <queryName> [reps]")
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark: SparkSession = graft.GraftSession.local(cpus, logLevel = "WARN")
    // PROF_CONF="k=v;k=v" — candidate runtime SQL confs under test
    sys.env.get("PROF_CONF").foreach(_.split(";").filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        val wall = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
        stages.add(f"stage ${i.stageId}%4d ${wall}%6d ms cpu=${m.executorCpuTime / 1000000}%7d ms " +
          f"run=${m.executorRunTime}%7d ms gc=${m.jvmGCTime}%6d ms " +
          f"deser=${m.executorDeserializeTime}%6d ms resSer=${m.resultSerializationTime}%5d ms " +
          f"in=${m.inputMetrics.bytesRead / 1024}%8d KB " +
          f"sWrite=${m.shuffleWriteMetrics.bytesWritten / 1024}%8d KB " +
          f"tasks=${i.numTasks}%4d  ${i.name.takeWhile(_ != '\n').take(60)}")
      }
    })
    // Bench's cached-temp-view layout (SPARK_GRAFT_BENCH_FLAT=1 for the raw
    // fixture layout), so stage attribution sees what the bench sees
    graft.Bench.cacheTables(spark, sfDir, cpus).foreach { t =>
      println(s"[prof] $t cached, partitions=" + spark.table(t).rdd.getNumPartitions)
    }
    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { r =>
      stages.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val el = (System.nanoTime() - t0) / 1e9
      graft.ops.OpCaches.release()
      Thread.sleep(300) // let late stage-completed events land
      println(s"===== $name rep $r: ${"%.3f".format(el)} s =====")
      stages.forEach(s => println(s))
    }
    spark.stop()
  }
}
