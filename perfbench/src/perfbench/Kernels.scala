package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Rows per second of each SQL function `graft.GraftExtensions`
  * registers, timed through SQL on cached inputs derived from the fixed
  * tables, so the kernel is the only work besides the cached scan. */
object Kernels {
  private val Copies = 40
  private val Reps = 5

  /** function -> (input view, the SQL select list that calls it) */
  private val Calls: Seq[(String, String, String)] = Seq(
    ("fnv64", "k_text", "fnv64(bin)"),
    ("md5_token_ids", "k_text", "md5_token_ids(text)"),
    ("ngram_fnv", "k_text", "ngram_fnv(text, 5)"),
    ("winnow_mins", "k_text", "winnow_mins(hs, 4)"),
    ("sorted_intersect_count", "k_pairs", "sorted_intersect_count(sa, sb)"),
    ("zip_equal_count", "k_pairs", "zip_equal_count(slice(ta, 1, 16), slice(tb, 1, 16))"),
    ("sqdist_l", "k_vec", "sqdist_l(qa, qb)"),
    ("pq_argmin", "k_vec", "pq_argmin(slice(qa, 1, 4), books)"))

  def run(spark: SparkSession, dataDir: String, exec: DataFrame => Long): Map[String, Double] = {
    Tables.documents(spark, dataDir).createOrReplaceTempView("k_docs")
    Tables.embeddings(spark, dataDir).createOrReplaceTempView("k_emb")
    spark.range(Copies).createOrReplaceTempView("k_copies")
    def cached(name: String, sql: String): Long = {
      val df = spark.sql(sql).cache()
      df.createOrReplaceTempView(name)
      df.count()
    }
    val rows = Map(
      "k_text" -> cached("k_text",
        """SELECT text, CAST(text AS BINARY) AS bin, ngram_fnv(text, 5) AS hs
          |FROM k_docs CROSS JOIN k_copies""".stripMargin),
      "k_pairs" -> cached("k_pairs",
        """SELECT sort_array(md5_token_ids(a.text)) AS sa, sort_array(md5_token_ids(b.text)) AS sb,
          |       md5_token_ids(a.text) AS ta, md5_token_ids(b.text) AS tb
          |FROM k_docs a JOIN k_docs b ON b.doc_id = a.doc_id + 1 CROSS JOIN k_copies""".stripMargin),
      "k_vec" -> cached("k_vec",
        """WITH q AS (SELECT vec_id, transform(embedding, x -> CAST(x * 1000 AS BIGINT)) AS qv
          |           FROM k_emb),
          |     book AS (SELECT collect_list(struct(vec_id AS label, slice(qv, 1, 4) AS cs)) AS books
          |              FROM q WHERE vec_id < 64)
          |SELECT a.qv AS qa, b.qv AS qb, book.books
          |FROM q a JOIN q b ON b.vec_id = a.vec_id + 1 CROSS JOIN book CROSS JOIN k_copies""".stripMargin))
    val out = Calls.map { case (fn, view, call) =>
      val q = s"SELECT $call AS k FROM $view"
      exec(spark.sql(q)) // warm-up
      val times = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        exec(spark.sql(q))
        (System.nanoTime() - t0) / 1e9
      }.sorted
      fn -> rows(view) / times(Reps / 2)
    }.toMap
    Seq("k_text", "k_pairs", "k_vec").foreach(v => spark.catalog.uncacheTable(v))
    out
  }
}
