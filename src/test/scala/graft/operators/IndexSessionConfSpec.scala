package graft.operators

import graft.SparkSpec
import graft.ingest.{FileUtils, SessionSchemeFs}
import org.apache.spark.sql.SparkSession

/** Both persisted indexes resolve their roots with the session's
  * Hadoop conf: every lifecycle step runs under a scheme that only the
  * session's conf knows.
  */
class IndexSessionConfSpec extends SparkSpec {

  /** A session whose conf alone knows the `graftsession:` scheme,
    * uncached, so every open resolves it from the conf it is handed
    * (see IngestorSpec's exact-mode test).
    */
  private def schemeSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("fs.graftsession.impl", classOf[SessionSchemeFs].getName)
    s.conf.set("fs.graftsession.impl.disable.cache", "true")
    s
  }

  test("save, append, probe, forget and vacuum both indexes under a session-only scheme") {
    val s = schemeSession()
    import s.implicits._
    val dir = tmpDir("index_session_scheme")
    val nd = s"graftsession://$dir/nd"
    val vi = s"graftsession://$dir/vi"
    val words = (0 until 200).map(i => s"u$i")
    val r = new java.util.Random(4)
    val texts = Seq.fill(30)(Seq.fill(16)(words(r.nextInt(words.size))).mkString(" "))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    Dedup.saveNearDupIndex(docs.take(20).toDF("doc_id", "text"), nd)
    Dedup.appendNearDupIndex(docs.drop(20).toDF("doc_id", "text"), nd)
    val batch = Seq((100L, texts(2)), (101L, texts(25))).toDF("doc_id", "text")
    def pairs() = Dedup.probeNearDupIndex(s, nd, batch).collect()
      .map(p => (p.getLong(0), p.getLong(1))).toSet
    assert(pairs() == Set((100L, 2L), (101L, 25L)))
    Dedup.forgetFromIndex(s, nd, Seq(25L).toDF("doc_id"))
    assert(pairs() == Set((100L, 2L)))
    Dedup.vacuumIndex(s, nd)
    assert(pairs() == Set((100L, 2L)))

    val vecs = (0L until 40L).map(i => i -> Seq.fill(64)(r.nextGaussian()))
    VectorIndex.saveVectorIndex(vecs.take(34).toDF("vec_id", "embedding"), vi)
    VectorIndex.appendVectorIndex(vecs.drop(34).toDF("vec_id", "embedding"), vi)
    val queries = Seq(1000L -> vecs(36)._2).toDF("vec_id", "embedding")
    def top() = VectorIndex.probeVectorIndex(s, vi, queries).collect()
      .map(_.getLong(1)).toSeq
    assert(top().contains(36L))
    VectorIndex.forgetFromVectorIndex(s, vi, Seq(36L).toDF("vec_id"))
    assert(!top().contains(36L))
    VectorIndex.vacuumVectorIndex(s, vi)
    assert(!top().contains(36L))
    FileUtils.rmr(dir.toString, spark.sparkContext.hadoopConfiguration)
  }
}
