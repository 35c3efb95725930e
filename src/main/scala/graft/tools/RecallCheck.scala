package graft.tools

import graft.operators.Dedup

/** Ad-hoc check: do the candidates→verify dedup variants reproduce the
  * exact brute-pair set on the gate corpora? (Equality is what licenses
  * attaching the exact-Jaccard oracle to the LSH/SimHash queries.) */
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(8, 8, "ERROR")
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val d = s"/root/testdata/$sf"
      val docs = graft.Tables.load(spark, d, "documents")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairs(Dedup.ngramJaccardPairs(docs, 3, 0.5, maxDf = 20))
      val mh = pairs(Dedup.minhashVerifiedPairs(docs, 0.5, maxDf = 20))
      val sh3 = pairs(Dedup.simhashVerifiedPairs(docs, maxHamming = 3, maxDf = 20))
      val sh8 = pairs(Dedup.simhashVerifiedPairs(docs, maxHamming = 8, maxDf = 20))
      val sh16 = pairs(Dedup.simhashVerifiedPairs(docs, maxHamming = 16, maxDf = 20))
      println(s"[recall] $sf exact=${exact.size} " +
        s"minhash=${mh.size} eq=${mh == exact} " +
        s"simhash(h3)=${sh3.size} eq=${sh3 == exact} " +
        s"simhash(h8)=${sh8.size} eq=${sh8 == exact} " +
        s"simhash(h16)=${sh16.size} eq=${sh16 == exact}")
    }
    spark.stop()
  }
}
