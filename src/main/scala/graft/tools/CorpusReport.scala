package graft.tools

import graft.SparkEntry

/** Corpus card CLI — one JSON artifact a curation run attaches to a
  * dataset release: per-source volume/vocabulary stats (x_corpus_stats),
  * near-dup pressure (pair counts from the exact + LSH pipelines over
  * the live corpus), the top source-overlap pairs by KMV estimate
  * (d_source_overlap — the "these two providers ship the same crawl"
  * release blocker), and the per-column data-quality profile of the
  * relational side (q_dq_profile). Everything is the same gate-verified
  * operators; this tool only composes and serializes them.
  *
  * Usage: CorpusReport <sfDir> [outFile]
  */
object CorpusReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("corpus_report.json")
    graft.Sessions.run { spark =>
      def rowsOf(name: String): Seq[Map[String, String]] = {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val cols = df.columns
        df.collect().toSeq.map(r =>
          cols.zipWithIndex.map { case (c, i) =>
            c -> (if (r.isNullAt(i)) "null" else r.get(i).toString)
          }.toMap)
      }
      // control chars must be escaped too (a raw newline inside a string
      // value is invalid JSON)
      def jstr(v: String): String =
        "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
          .replaceAll("[\\x00-\\x1F]", " ") + "\""
      def jsonRows(rows: Seq[Map[String, String]]): String =
        rows.map(_.toSeq.sortBy(_._1).map { case (k, v) =>
          jstr(k) + ":" + jstr(v)
        }.mkString("{", ",", "}")).mkString("[", ",", "]")

      // pair sets are corpus-sized relations: COUNT them distributed,
      // never collect the rows to the driver just to take .size
      def countOf(name: String): String =
        SparkEntry.queries(name)(spark, sfDir).count().toString
      // the KMV overlap matrix is S² small rows; the card carries only
      // the top pairs by estimated Jaccard (the release-blocking signal —
      // "these two providers ship the same crawl")
      def topOverlaps(n: Int): Seq[Map[String, String]] =
        rowsOf("d_source_overlap")
          .sortBy(r => (-r("est_jaccard_micro").toLong, r("src_a"), r("src_b")))
          .take(n)
      val sections = Seq(
        "sources" -> jsonRows(rowsOf("x_corpus_stats")),
        "near_dup_pairs" -> jsonRows(Seq(Map(
          "minhash_lsh" -> countOf("d_minhash_lsh"),
          "blocked_jaccard" -> countOf("d_ngram_jaccard")))),
        "top_source_overlaps" -> jsonRows(topOverlaps(5)),
        "dq_profile" -> jsonRows(rowsOf("q_dq_profile")))
      val json = sections.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
      println(s"[corpus-report] wrote $outFile")
      graft.CacheBook.releaseAll(spark)
    }
  }
}
