package graft.dev

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{SparkEntry, Tables}

/** Dev tool: decompose the streaming gates' micro-batch cost with the
  * engine's own progress metrics. A StreamingQueryListener sums each
  * query's per-batch durationMs components (addBatch, walCommit,
  * commitOffsets, queryPlanning, triggerExecution, ...) across every
  * batch the gate runs, so the report says where the per-batch fixed
  * cost actually goes (state commit vs offset/commit-log fsync vs
  * planning vs the batch's data work).
  *
  * Usage: runMain graft.dev.StreamProf <sfDir> <gate...>
  */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionDefaults.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.names.foreach { n =>
      try Tables.load(spark, dir, n).count()
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }

    val durations = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    @volatile var batches = 0
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        batches += 1
        e.progress.durationMs.forEach { (k, v) =>
          durations.merge(k, v,
            ((a: java.lang.Long, b: java.lang.Long) =>
              java.lang.Long.valueOf(a.longValue() + b.longValue())):
              java.util.function.BiFunction[java.lang.Long, java.lang.Long, java.lang.Long])
        }
      }
    }
    spark.streams.addListener(listener)

    // per-JOB decomposition: the stateful batch body and each
    // foreachBatch store job appear as separate Spark jobs
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobLines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobStart.put(e.jobId, (e.time, d))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(e.jobId)).foreach { case (t0, d) =>
          jobLines.add(f"  job ${e.jobId}%4d ${(e.time - t0) / 1000.0}%6.2fs  $d")
        }
      }
    })

    def runOnce(n: String, tag: String): Double = {
      durations.clear(); batches = 0; jobLines.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).write
        .format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // drain the async listener bus
      val parts = {
        import scala.jdk.CollectionConverters._
        durations.asScala.toSeq.sortBy(kv => -kv._2.longValue())
          .map { case (k, v) => f"$k=${v / 1000.0}%.2fs" }.mkString(" ")
      }
      println(f"STREAMPROF $n%-32s $tag wall=$wall%6.2fs batches=$batches $parts")
      if (tag == "warm" && sys.env.contains("STREAMPROF_JOBS")) {
        import scala.jdk.CollectionConverters._
        jobLines.asScala.foreach(println)
      }
      wall
    }
    if (sys.env.contains("STREAMPROF_AB_PARTS")) {
      // in-session interleaved A/B of the gate state-store instance
      // count (A = pinned default, B = STREAMPROF_AB_PARTS)
      val b = sys.env("STREAMPROF_AB_PARTS")
      def arm(n: String, v: Option[String], tag: String): Double = {
        v match {
          case Some(x) => sys.props("graft.stream.parts") = x
          case None    => sys.props.remove("graft.stream.parts")
        }
        runOnce(n, tag)
      }
      names.foreach { n =>
        arm(n, None, "warmA"); arm(n, Some(b), "warmB")
        val a = math.min(arm(n, None, "A1"), {
          arm(n, Some(b), "B1-pre"); arm(n, None, "A2")
        })
        val bb = math.min(arm(n, Some(b), "B2"), {
          arm(n, None, "A3-pre"); arm(n, Some(b), "B3")
        })
        println(f"STREAMAB $n%-32s A(default) $a%6.2fs  B(parts=$b) $bb%6.2fs")
      }
    } else names.foreach { n => runOnce(n, "cold"); runOnce(n, "warm") }
    spark.stop()
  }
}
