package graft

/** Dev tool: dump `explain(formatted)` for selected gate queries so plan
  * regressions (fact-side broadcasts, unpruned scans, lost pushdown) are
  * visible. Usage: `runMain graft.PlanAudit [queryName ...]`.
  *
  * `--fingerprint <gate ...>` prints each gate's CANONICAL plan text (the
  * exact normalized string [[Bench.fingerprint]] hashes) plus the hash —
  * run it twice in two JVMs and diff the outputs to localize any
  * canonicalization gap in one command (the r18 q_profile diagnosis).
  * `--fpcheck <gate ...>` builds each gate's plan TWICE in this JVM and
  * fails loudly on a canonical-text mismatch (intra-JVM instability).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession("4", "ERROR")
    val mode = args.headOption match {
      case Some("--fingerprint") => "fingerprint"
      case Some("--fpcheck")     => "fpcheck"
      case _                     => "explain"
    }
    val rest = if (mode == "explain") args.toSeq else args.toSeq.drop(1)
    val names =
      if (rest.nonEmpty) rest
      else Seq("q3_top_orders", "q_filter", "proj_rename", "llm_dedup_minhash",
        "llm_similar_ivf", "llm_multimodal")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      mode match {
        case "explain" =>
          SparkEntry.queries(n)(spark, sfDir).explain("formatted")
        case "fingerprint" =>
          val df = SparkEntry.queries(n)(spark, sfDir)
          println(Bench.canonicalPlan(df, sfDir))
          println(s"-- fingerprint: ${Bench.fingerprint(df, sfDir)}")
        case "fpcheck" =>
          val a = Bench.canonicalPlan(SparkEntry.queries(n)(spark, sfDir), sfDir)
          val b = Bench.canonicalPlan(SparkEntry.queries(n)(spark, sfDir), sfDir)
          if (a == b) println(s"$n: stable within JVM")
          else {
            val la = a.linesIterator.toVector
            val lb = b.linesIterator.toVector
            la.zipAll(lb, "<missing>", "<missing>").zipWithIndex.foreach {
              case ((x, y), i) if x != y =>
                println(s"$n line ${i + 1}:\n  A: $x\n  B: $y")
              case _ => ()
            }
            sys.error(s"$n: canonical plan UNSTABLE within one JVM")
          }
      }
    }
    spark.stop()
  }
}
