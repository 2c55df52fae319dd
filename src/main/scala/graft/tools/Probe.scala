package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import graft.{Bench, GraftSession, SparkEntry}

/** Dev diagnostics over SparkEntry queries, on the GraftSession Bench runs:
  *
  *   time [nameRegex] [sfDir] [passes]  Bench's protocol (one warm-up
  *       pass, clearState before every timed pass, min of `passes`,
  *       default 2) for every matching query, heaviest first — finds and
  *       reproduces slow queries without the whole bench run
  *   jobs <query> [sfDir]  per-job wall time, run-stage count, task
  *       count, single-task stages, SQL execution id (`sql=N`, or `rdd`
  *       for a job no query submitted) and call site of one pass (after
  *       a warm-up and clearState), and the driver gap (wall minus the
  *       job sum: planning and driver loops)
  *   plans <nameRegex> <outDir> [sfDir]  `explain("formatted")` of every
  *       matching query into <outDir>/<name>.txt (the plans/rNN evidence)
  *   calib  the Bench calibration probe alone (six fresh-JVM passes)
  *
  * nameRegex selects every query whose name it matches anywhere (an
  * unanchored search, as in Verify). sfDir defaults to
  * SPARK_GRAFT_SF_DIR, the dataset Bench times; the width comes from
  * SPARK_GRAFT_CPUS, as in Bench.
  * Usage: runMain graft.tools.Probe <subcommand> <args...>
  */
object Probe {
  /** The one plan formatter (also DumpPlans'), reproducible across runs
    * and checkouts: a JVM lambda's class and identity
    * (`Ops$$$Lambda$5111/0x…@4ad0465c`) print as `$$Lambda`, an exchange's
    * session-global `plan_id` (it moves with whatever planned before) as
    * `plan_id=N`, an RDD's session-global id and its call site's line
    * (`MapPartitionsRDD[460] at localCheckpoint at MLOps.scala:650`) as
    * `RDD[N]` and the file alone, a path under the working directory
    * relative to it (`file:./…`), and the session-global expression ids
    * (`rank#8136`) renumbered 1, 2, … in order of first appearance, so
    * one query's plan does not move with what the session planned before.
    */
  def formattedPlan(df: DataFrame): String = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    exprId.replaceAllIn(
      df.queryExecution.explainString(FormattedMode)
        .replaceAll("""\$\$Lambda[^@\s,\]]*@\p{XDigit}+""", "\\$\\$Lambda")
        .replaceAll("""\[plan_id=\d+\]""", "[plan_id=N]")
        .replaceAll("""RDD\[\d+\] at (\w+) at (\w+\.scala):\d+""", "RDD[N] at $1 at $2")
        .replace(s"file:${Paths.get("").toAbsolutePath}/", "file:./"),
      m => s"#${ids.getOrElseUpdate(m.group(1), ids.size + 1)}")
  }

  /** An expression id: `#` and digits right after a name or a closing
    * parenthesis (`weight#8139`, `sum(x#1)#42L`); a string literal's `#`
    * after a space or a comma is left alone.
    */
  private val exprId = """(?<=[\w)`])#(\d+)""".r

  private def matching(nameRegex: String): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filter(SparkEntry.nameFilter(nameRegex))

  def main(args: Array[String]): Unit = {
    def sf(rest: List[String]) = rest.headOption.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("pass sfDir or set SPARK_GRAFT_SF_DIR"))
    val run: SparkSession => Unit = args.toList match {
      case "time" :: rest => time(_, rest.headOption.getOrElse(".*"), sf(rest.drop(1)),
        rest.lift(2).fold(2)(_.toInt))
      case "jobs" :: query :: rest => jobs(_, query, sf(rest))
      case "plans" :: nameRegex :: outDir :: rest => plans(_, nameRegex, outDir, sf(rest))
      case "calib" :: Nil => calib
      case _ => sys.error("usage: Probe time [nameRegex] [sfDir] [passes] | " +
        "jobs <query> [sfDir] | plans <nameRegex> <outDir> [sfDir] | calib")
    }
    val spark = GraftSession.local()
    try run(spark) finally spark.stop()
  }

  private def time(spark: SparkSession, nameRegex: String, sfDir: String,
                   passes: Int): Unit = {
    val names = matching(nameRegex)
    Bench.warmUp(spark, names, sfDir)
    val rows = names.map { name =>
      val ps = Seq.fill(passes)(Bench.timeOne(spark, name, sfDir))
      (name, ps.filter(_ >= 0).minOption.getOrElse(-1.0), ps)
    }
    rows.sortBy(-_._2).foreach { case (name, t, ps) =>
      println(f"[probe] $t%8.3f  $name  passes=${ps.map(p => f"$p%.3f").mkString("[", ",", "]")}")
    }
    println(f"[probe] ${rows.map(_._2).filter(_ >= 0).sum}%8.3f  TOTAL (${rows.size} queries)")
  }

  private def jobs(spark: SparkSession, name: String, sfDir: String): Unit = {
    Bench.warmUp(spark, Seq(name), sfDir) // the pass pays planning, not first-call JIT
    Bench.clearState(spark)
    // per job: start time, call site (its result stage's name), the SQL
    // execution it belongs to (`rdd` for a job no query submitted) and
    // stage ids; per run stage: its task count (a job also lists the
    // stages it skipped, which never complete)
    val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String, String, Seq[Int])]
    val stageTasks = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val rows = scala.collection.mutable.ListBuffer.empty[(Int, Double, String, String, Seq[Int])]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        starts(e.jobId) = (e.time, e.stageInfos.maxBy(_.stageId).name,
          exec.fold("rdd")("sql=" + _), e.stageIds)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks(e.stageInfo.stageId) = e.stageInfo.numTasks
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        starts.remove(e.jobId).foreach { case (t0, site, exec, stages) =>
          rows += ((e.jobId, (e.time - t0) / 1e3, site, exec, stages.flatMap(stageTasks.get)))
        }
    }
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    ListenerBus.drain(spark.sparkContext) // every job end delivered
    spark.sparkContext.removeSparkListener(l)
    val sorted = rows.sortBy(_._1)
    sorted.foreach { case (id, s, site, exec, tasks) =>
      println(f"[probe] job $id%4d  $s%7.3f s  stages=${tasks.size}%2d tasks=${tasks.sum}%4d " +
        f"single-task=${tasks.count(_ == 1)}%2d  $exec%-7s ${site.take(60)}")
    }
    val jobSum = sorted.map(_._2).sum
    val tasks = sorted.flatMap(_._5)
    println(f"[probe] TOTAL jobs=${sorted.size} stages=${tasks.size} tasks=${tasks.sum} " +
      f"single-task=${tasks.count(_ == 1)} jobSum=$jobSum%.3f wall=$wall%.3f (gap=${wall - jobSum}%.3f = planning/driver)")
  }

  private def plans(spark: SparkSession, nameRegex: String, outDir: String,
                    sfDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    matching(nameRegex).foreach { name =>
      try {
        val plan = formattedPlan(SparkEntry.queries(name)(spark, sfDir))
        Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
        println(s"[probe] wrote $outDir/$name.txt")
      } catch { case e: Throwable => println(s"[probe] $name FAILED: $e") }
    }
  }

  private def calib(spark: SparkSession): Unit = {
    val times = (1 to 6).map { _ =>
      val t0 = System.nanoTime()
      Bench.calibOnce(spark)
      (System.nanoTime() - t0) / 1e9
    }
    println(s"[probe] calib cpus=${GraftSession.cpus} runs=${times.map(t => f"$t%.3f").mkString(",")} min=${times.min}")
  }
}
