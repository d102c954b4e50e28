package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max, min}

import graft.operators.Index
import graft.sources.TermStore

class IndexSpec extends SparkSpec {

  /** A fresh directory holding `postingsLists` written as a store. */
  private def storeOf(postingsLists: DataFrame,
                      write: (DataFrame, String) => Unit = TermStore.write(_, _)): String = {
    val p = java.nio.file.Files.createTempDirectory("ts").toString
    write(postingsLists, p)
    p
  }

  /** Each store file's (min, max) term, in term order. */
  private def fileRanges(path: String): Seq[(String, String)] =
    spark.read.parquet(path).groupBy(col("_metadata.file_path"))
      .agg(min("term"), max("term")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq.sortBy(_._1)

  /** The corpus' postings lists written as a store, shared by the tests
    * that only read it. */
  private lazy val corpusStore: String = storeOf(Index.postingsLists(spark, sf))

  /** The corpus' postings per term, doc-id sorted. */
  private lazy val expected: Map[String, Seq[(Long, Long)]] =
    Index.postings(spark, sf).collect().toSeq
      .groupBy(_.getAs[String]("term"))
      .map { case (t, rs) => t -> rs.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("tf"))).sortBy(_._1) }

  test("postfix evaluator: AND is intersection, OR is union (tiny corpus)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c"), (1L, "a b"), (2L, "a"), (3L, "c d")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("idx").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def ids(q: String): Set[Long] =
      Index.booleanQuery(spark, dir, q).collect().map(_.getLong(0)).toSet

    assert(ids("a b AND") == Set(0L, 1L))
    assert(ids("a b AND c OR") == Set(0L, 1L, 3L))
    assert(ids("c d AND") == Set(3L))
    assert(ids("a d OR") == Set(0L, 1L, 2L, 3L))
    assertThrows[IllegalArgumentException](ids("a b"))
  }

  test("TermStore point lookup equals the distributed termLookup") {
    val viaStore = Index.termStoreLookup(spark, sf, Seq("spark"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val direct = Index.termLookup(spark, sf, "spark")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(viaStore.nonEmpty && viaStore == direct)
    // absent term → empty postings, not an error
    val store = graft.sources.TermStore.parquetBacked(spark,
      { val p = java.nio.file.Files.createTempDirectory("ts").toString
        graft.sources.TermStore.write(Index.postingsLists(spark, sf), p); p })
    assert(store.fetchPostings("zzz_no_such_term_zzz").isEmpty)
    assert(store.fetchDocumentSet("zzz_no_such_term_zzz").isEmpty)
    store.close()
  }

  test("TermStore answers every vocabulary term with its Index.postings list") {
    val store = TermStore.parquetBacked(spark, corpusStore)
    assert(expected.size > 10)
    expected.foreach { case (t, ps) => assert(store.fetchPostings(t) == ps, t) }
  }

  test("a present term runs one job, with one task per file whose range holds it") {
    // range-partitioned: one file's range holds each term; repartitioned
    // round-robin: the ranges overlap
    val stores = Seq(corpusStore, storeOf(Index.postingsLists(spark, sf),
      (df, p) => df.repartition(3).write.mode("overwrite").parquet(p)))
    val candidates = stores.map { path =>
      val store = TermStore.parquetBacked(spark, path)
      val ranges = fileRanges(path)
      val vocabulary = expected.keys.toSeq.sorted
      Seq(vocabulary.head, vocabulary(vocabulary.size / 2), vocabulary.last).map { t =>
        val files = ranges.count { case (lo, hi) => lo <= t && t <= hi }
        var got: Seq[(Long, Long)] = Nil
        val p = new JobProbe().run(spark) { got = store.fetchPostings(t) }
        assert(got == expected(t), t)
        assert(p.jobs.get == 1 && p.tasks.get == files,
          s"$t: ${p.jobs.get} jobs, ${p.tasks.get} tasks over $files candidate files")
        files
      }
    }
    assert(candidates.head.forall(_ == 1) && candidates.last.max > 1, candidates.toString)
  }

  test("a term below, above or between the files' ranges answers empty with no job") {
    val ranges = fileRanges(corpusStore)
    assert(ranges.size > 1, "the fixture store must span several files")
    val store = TermStore.parquetBacked(spark, corpusStore)
    // "\u0000" sorts below every other character, so max + "\u0000" lies
    // above one file's range and below the next one's
    val probes = Seq("", ranges.last._2 + "a") ++ ranges.init.map(_._2 + "\u0000")
    assert(probes.forall(t => !expected.contains(t)))
    var got = Seq.empty[Seq[(Long, Long)]]
    val p = new JobProbe().run(spark) { got = probes.map(store.fetchPostings) }
    assert(got.forall(_.isEmpty), probes.zip(got).toString)
    assert(p.jobs.get == 0, s"${p.jobs.get} jobs for ${probes.size} absent terms")
  }

  test("a store reopened after a rewrite returns the new postings") {
    val path = storeOf(Index.postingsLists(spark, sf))
    val old = TermStore.parquetBacked(spark, path)
    val (t, ps) = expected.head
    assert(old.fetchPostings(t) == ps)
    TermStore.write(spark.range(1).selectExpr("'zzz_new_term' AS term", "1L AS df",
      "array(named_struct('doc_id', 42L, 'tf', 7L)) AS postings"), path)
    val reopened = TermStore.parquetBacked(spark, path)
    assert(reopened.fetchPostings("zzz_new_term") == Seq((42L, 7L)))
    assert(reopened.fetchPostings(t).isEmpty)
  }

  test("df equals number of docs in posting list") {
    val pl = Index.postingsLists(spark, sf)
    import org.apache.spark.sql.functions._
    val bad = pl.filter(col("df") =!= size(col("postings"))).count()
    assert(bad == 0 && pl.count() > 0)
  }

  test("postings are doc-id sorted within each term") {
    val row = Index.postingsLists(spark, sf).limit(5).collect()
    row.foreach { r =>
      val ids = r.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(0))
      assert(ids == ids.sorted)
    }
  }
}
