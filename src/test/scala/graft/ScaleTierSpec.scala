package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.Curation
import graft.dedup.Dedup
import graft.ml.{BatchLogit, Spam}

/** The placed corpora (`Tables.placeByDocId`: the ×N scale tiers through
  * `Tables.replicate`, and the ml occurrence table): they must spread
  * over the session's shuffle partitions, and what the queries over them
  * answer must not depend on that placement.
  */
class ScaleTierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("scale-tier corpora spread over the session's shuffle partitions") {
    // the fixture documents file is one scan split: without the placement
    // every placed corpus (and each per-row kernel over it) is one task
    val n = spark.sessionState.conf.numShufflePartitions
    assert(n > 1, "the test session must run more than one shuffle partition")
    Caches.releaseAll()
    try {
      val placed = Seq(
        "documentsInflated" -> Tables.documentsInflated(spark, sf, 4),
        "bigShingles"       -> Dedup.bigShingles(spark, sf, 4),
        "skewShingles"      -> Dedup.skewShingles(spark, sf, 3),
        "occurrences"       -> BatchLogit.occurrences(spark, sf))
        .map { case (name, df) => name -> df.rdd.getNumPartitions }
      assert(placed.forall(_._2 == n), s"partitions per tier $placed, want $n each")
    } finally Caches.releaseAll()
  }

  test("scale-tier answers do not depend on the shuffle partition count") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.getOption(key)
    def under(partitions: Int): Map[String, Seq[String]] = {
      // memos are keyed on the session, not on the conf: drop them so
      // each setting rebuilds its corpora under its own placement
      Caches.releaseAll()
      spark.conf.set(key, partitions.toString)
      Map(
        "ngramCappedBig"     -> Dedup.ngramCappedBig(spark, sf, replicas = 3),
        "minhashBigPortable" -> Dedup.minhashBigPortable(spark, sf, replicas = 3),
        "curateBig"          -> Curation.curateBig(spark, sf, replicas = 3),
        "spam_ensemble_seq"  -> Spam.ensembleSeq(spark, sf),
        "spam_train_seq"     -> Spam.trainSeqShared(spark, sf),
        "ml_batch_gd"        -> BatchLogit.train(spark, sf))
        .map { case (q, df) => q -> df.collect().map(_.toString).toSeq.sorted }
    }
    try {
      val one = under(1)
      val four = under(4)
      one.keys.foreach { q =>
        assert(one(q).nonEmpty, s"$q returned no rows")
        assert(one(q) == four(q), s"$q differs between 1 and 4 shuffle partitions")
      }
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
      Caches.releaseAll()
    }
  }
}
