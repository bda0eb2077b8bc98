package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The count()-to-full-plan bridge: for every query op of the
  * workloads, and the ops first proposed for them, the time
  * `graft.Bench` takes (declare, then `count()`) beside a `noop` write
  * of the declared DataFrame and the benchmark's own op (declare, plan,
  * consume the planned plan). Min of three, round-robin, after one
  * warm-up of each. */
object Bridge {
  private val Repeats = 3
  /** The op lists first proposed for a dedup and a catalog workload,
    * before they were cut to fit the run budget (rows marked `(cut)`),
    * plus the query whose count() time hides most of its declared plan. */
  private val Dedup = Seq(
    "dedup_components", "dedup_containment", "dedup_minhash_lsh",
    "dedup_jaccard_pairs", "dedup_ngram_jaccard", "dedup_winnow_pairs",
    "dedup_cascade", "tfidf_cosine_capped_auto_hot")
  private val Catalog = Seq(
    "q1_agg", "q3_revenue", "q5_local_supplier", "q6_forecast",
    "q18_large_orders", "bloom_semijoin", "events_by_type", "sessionize",
    "asof_purchase_click", "doc_stats", "doc_quality", "pii_redact",
    "approx_distinct_sketch", "knn_brute_force", "matmul_basic",
    "pagerank3", "bm25_indexed", "ann_ivf_pq_indexed",
    "manifest_pruned_scan", "doc_fingerprint_rolling")

  def run(spark: SparkSession, a: Main.Args): Map[String, Any] = {
    val env = Main.env(a)
    val runner = new Runner(spark)
    def queryOps(names: Seq[String], rep: Int) = {
      val wl = new QueryWorkload(spark, env, names)
      wl.prepare(rep)
      wl.ops(0).collect { case q: QueryOp =>
        (if (Workloads.Catalog.contains(q.name)) "pipeline" else "(cut)", q.name, q.declare) }
    }
    val matmul = Workloads("matmul", spark, env)
    matmul.prepare(1)
    val lake = new LakeWorkload(spark, env)
    lake.prepare(1)
    lake.beforePass()
    val ops: Seq[(String, String, () => DataFrame)] =
      matmul.ops(0).collect { case q: QueryOp => ("matmul", q.name, q.declare) } ++
        // the lake's first serve, on the restored base lake
        lake.ops(0).take(1).collect { case q: QueryOp => ("pipeline", q.name, q.declare) } ++
        queryOps(Dedup, 1) ++ queryOps(Catalog.filterNot(Dedup.contains), 2)
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val legs: Seq[(String, (() => DataFrame) => Double)] = Seq(
      "count_s" -> (d => time(d().count())),
      "noop_write_s" -> (d => time(d().write.format("noop").mode("overwrite").save())),
      "op_s" -> (d => time(runner.consume(d()))))
    ops.foreach { case (_, _, d) => legs.foreach(_._2(d)) }
    val best = scala.collection.mutable.Map.empty[(String, String), Double]
    for (_ <- 1 to Repeats; (_, op, d) <- ops; (leg, f) <- legs) {
      val t = f(d)
      best((op, leg)) = math.min(best.getOrElse((op, leg), Double.MaxValue), t)
    }
    Map("rows" -> ops.sortBy { case (wl, op, _) => (wl, op) }.map { case (wl, op, _) =>
      Map("workload" -> wl, "op" -> op) ++ legs.map { case (leg, _) => leg -> best((op, leg)) }
    })
  }
}
