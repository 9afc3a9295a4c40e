package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.Bridge

import graft.Bench
import graft.engine.Metrics

/** Where a gate's time goes, under the bench's own session and rep
  * protocol (`Bench.session`, `Bench.measure`): per gate, the median of
  * `SPARK_GRAFT_BENCH_REPS` timed reps after an untimed warm-up, then one
  * more rep profiled by a listener — jobs, stages, tasks, the stage-ms
  * sum, the Janino compiles it paid (count and ms) and the costliest
  * stages with their shuffle and spill (the Spark UI's view; the UI is
  * off in the bench session).
  *
  *  - `--plan` also prints the formatted physical plan and the optimizer's
  *    size estimate of the gate's result (the input of
  *    `Parallelism.ensure`/`ensureBytes`).
  *  - `--rows` prints the gate's rows, sorted and stringified, in place
  *    of the timing and profile, so two builds' outputs byte-compare
  *    (`diff`) — the equivalence check for a restructured operator at a
  *    scale the oracle does not cover.
  *
  * Usage: runMain graft.tools.Profile [--plan] [--rows] <gate…>
  * Env (as graft.Bench): SPARK_GRAFT_SF_DIR (default sf0.1),
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS (default 5).
  */
object Profile {
  private case class Stage(name: String, ms: Long, tasks: Int, inMb: Double,
                           readMb: Double, writeMb: Double, spillMb: Double)

  /** Jobs started and stages completed since the last `clear`. */
  private class StageLog extends SparkListener {
    val stages = ArrayBuffer.empty[Stage]
    var jobs = 0
    def clear(): Unit = synchronized { stages.clear(); jobs = 0 }
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      val m = si.taskMetrics
      stages += Stage(si.name.takeWhile(_ != '\n').take(90),
        si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
        si.numTasks, m.inputMetrics.bytesRead / 1e6,
        m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6, m.diskBytesSpilled / 1e6)
    }
  }

  /** Janino compiles so far and their summed ms (driver and local
    * executor threads: the whole JVM). */
  private def compiles(): (Long, Long) = {
    val m = Metrics.snapshot().toMap
    (m("codegen_compile_cnt"), m("codegen_compile_ms"))
  }

  def main(args: Array[String]): Unit = {
    val (flags, gates) = args.toSeq.partition(_.startsWith("--"))
    val unknown = flags.filterNot(Set("--plan", "--rows"))
    require(unknown.isEmpty && gates.nonEmpty,
      s"usage: Profile [--plan] [--rows] <gate…> (unknown: ${unknown.mkString(" ")})")
    val sfDir = Bench.sfDir
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    gates.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      if (flags.contains("--plan")) {
        val qe = fn(spark, sfDir).queryExecution
        val bytes = qe.optimizedPlan.stats.sizeInBytes
        println(f"===== $name plan: est=$bytes (${bytes.toDouble / 1e6}%.2f MB) =====")
        println(qe.explainString(FormattedMode))
      }
      if (flags.contains("--rows")) {
        val df = fn(spark, sfDir)
        val rows = df.collect().map(_.toString).sorted
        df.unpersist(blocking = false)
        println(s"GATE $name n=${rows.length}")
        rows.foreach(r => println(s"  $r"))
      } else {
        val r = Bench.measure(spark, sfDir, fn, Bench.reps)
        println(f"===== $name median=${r.median}%.3f s reps=" +
          r.repTimes.map(t => f"$t%.3f").mkString("[", ",", "]") +
          s" gc_ms=${r.gcMs.mkString("[", ",", "]")}" +
          r.err.fold("")(e => s" error=$e") + " =====")
        Bridge.drainListeners(spark.sparkContext)
        log.clear()
        val (cnt0, ms0) = compiles()
        val (sec, _, _, err) = Bench.timeOnce(spark, sfDir, fn)
        Bridge.drainListeners(spark.sparkContext)
        val (cnt, ms) = compiles()
        log.synchronized {
          println(f"  profiled rep=$sec%.3f s jobs=${log.jobs} stages=${log.stages.size} " +
            s"tasks=${log.stages.map(_.tasks).sum} " +
            s"stage-ms-sum=${log.stages.map(_.ms).sum} (overlap possible) " +
            s"compiles=${cnt - cnt0} compile-ms=${ms - ms0}" +
            err.fold("")(e => s" error=$e"))
          log.stages.sortBy(-_.ms).take(15).foreach { s =>
            println(f"  [${s.ms}%5d ms] tasks=${s.tasks}%3d in=${s.inMb}%7.1fMB " +
              f"sr=${s.readMb}%7.2fMB sw=${s.writeMb}%7.2fMB spill=${s.spillMb}%5.1fMB ${s.name}")
          }
        }
      }
    }
    spark.stop()
  }
}
