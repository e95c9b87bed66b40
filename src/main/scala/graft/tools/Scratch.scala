package graft.tools

import graft.Session
import graft.observability.QueryJournal

/** Local profiling / plan-audit scratchpad (not part of the library
  * surface). Usage: runMain graft.tools.Scratch explain|profile|time|dump
  * [outDir suffix] <filters...>, each filter a comma-separated substring
  * selector over query names, as Bench's SPARK_GRAFT_BENCH_ONLY.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    def queries(filters: List[String]) =
      Session.select(graft.SparkEntry.queries, filters.mkString(","))
    args.toList match {
      case "explain" :: names =>
        queries(names).foreach { case (full, fn) =>
          println(s"===== $full =====")
          val df = fn(spark, sfDir)
          println(df.queryExecution.executedPlan.toString.take(8000))
          val shuffles = df.queryExecution.executedPlan.toString
            .linesIterator.count(_.contains("Exchange"))
          println(s"[scratch] $full: $shuffles Exchange lines")
        }
      case "profile" :: names =>
        // Per-query cost breakdown: Catalyst phase times (planning tracker)
        // plus the journal's row per stage — tasks, wall, summed task time,
        // shuffle read/write — so "slow" decomposes into plan/driver vs
        // single-task map stages vs real shuffle volume.
        val journal = new QueryJournal(spark).start()
        queries(names).foreach { case (full, fn) =>
          // warm run: JIT + codegen cache, matches the bench's min-of-2
          Session.run(spark)(fn(spark, sfDir)).get
          journal.handover()
          var df: org.apache.spark.sql.DataFrame = null
          var tBuilt = 0L
          val t0 = System.nanoTime()
          val profiled = Session.run(spark, { built =>
            df = built; tBuilt = System.nanoTime(); Session.noop(built)
          })(fn(spark, sfDir))
          val h = journal.handover()
          profiled.get
          println(s"===== $full =====")
          println(f"[profile] build ${(tBuilt - t0) / 1e9}%.3f s, " +
            f"execute ${profiled.seconds - (tBuilt - t0) / 1e9}%.3f s (warm)")
          val ph = df.queryExecution.tracker.phases
          ph.foreach { case (p, t) =>
            println(f"[profile]   phase $p%-16s ${(t.endTimeMs - t.startTimeMs) / 1e3}%.3f s")
          }
          val taskMs = h.tasks.groupMapReduce(_.request.step_index)(
            _.request.total_elapsed_time)(_ + _)
          val ss = h.steps.sortBy(_.stage_id)
          println(f"[profile] ${ss.size} stages, " +
            f"${ss.map(_.duration_ms).sum / 1e3}%.3f s stage wall (overlaps ok)")
          ss.foreach { s =>
            val run = taskMs.getOrElse(s.stage_id, 0L)
            val nm = s.name.split('\n').head.take(60)
            println(f"[profile]   stage ${s.stage_id}%4d ${s.n_tasks}%4d tasks" +
              f" wall ${s.duration_ms / 1e3}%6.3f run ${run / 1e3}%7.3f" +
              f"  sRead ${s.shuffle_read_bytes / 1e6}%7.1fMB" +
              f" sWrite ${s.shuffle_write_bytes / 1e6}%7.1fMB  $nm")
          }
        }
        journal.stop()
      case "dump" :: outDir :: suffix :: names =>
        // Write .explain("formatted") of each query to <outDir>/<name>_<suffix>.txt
        // (the round's plan-artifact contract: plans/r08/<q>_before.txt / _after.txt).
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        queries(names).foreach { case (full, fn) =>
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"${full}_$suffix.txt"), txt)
          println(s"[scratch] dumped $full ($suffix): " +
            s"${txt.linesIterator.count(_.contains("Exchange"))} Exchange lines")
        }
      case "time" :: names =>
        queries(names).foreach { case (full, fn) =>
          for (rep <- 1 to 3) {
            val t = Session.run(spark)(fn(spark, sfDir)).get
            println(f"[scratch] ${s"$full #$rep"}%-40s $t%.3f s")
          }
        }
      case _ =>
        println("usage: Scratch explain|time|profile|dump ...")
    }
    spark.stop()
  }
}
