package graft.domain

import graft.Sessions
import org.apache.spark.sql.SaveMode

/** Example end-to-end warehouse run: synthesizes a small bronze parquet,
  * runs Pipeline.run (stage → enrich → star build → marts → gold parquet),
  * prints validation counts. Usage:
  *   tools/run.sh graft.domain.WarehouseDemo /tmp/graft_wh
  */
object WarehouseDemo {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft_wh")
    val spark = Sessions.start()
    import spark.implicits._

    // Synthetic bronze: a few banks/branches with lexicon-bearing French text.
    val pos = Seq("excellent service rapide", "bon accueil personnel agreable",
      "tres bien merci", "parfait et professionnel")
    val neg = Seq("attente longue et lente", "mauvais service horrible",
      "probleme jamais resolu", "frais eleves nul")
    val nRows = args.drop(1).headOption.map(_.toInt).getOrElse(200)
    val rows = (0 until nRows).map { i =>
      val bank = s"Bank ${('A' + i % 3).toChar}"
      val place = s"p${i % 12}"
      val good = i % 3 != 0
      Review(
        review_id = s"rev_$i", place_id = place, bank_name = bank,
        branch_name = s"Branch ${i % 12}", author_name = s"author_$i",
        author_url = None, language = "fr", original_language = None,
        profile_photo_url = None, rating = Some(if (good) 4 + i % 2 else 1 + i % 2),
        relative_time_description = "recently",
        text = (if (good) pos(i % 4) else neg(i % 4)) + s" visite numero $i",
        time = 1700000000L + i * 86400L % (365 * 86400L),
        translated = false,
        collected_at = java.sql.Timestamp.valueOf("2024-06-01 10:00:00"))
    }
    spark.createDataset(rows).write.mode(SaveMode.Overwrite).parquet(s"$base/bronze")

    val r = Pipeline.run(spark, s"$base/bronze", s"$base/gold")
    println(s"bronze=${r.bronzeCount} staged=${r.stagedCount} fact=${r.factCount} " +
      s"banks=${r.bankCount} branches=${r.branchCount}")
    spark.read.parquet(s"$base/gold/mart_bank_ranking")
      .select("bank_name", "total_reviews", "avg_rating", "bank_rank", "performance_tier")
      .orderBy("bank_rank").show(false)
    spark.stop()
  }
}
