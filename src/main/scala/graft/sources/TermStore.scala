package graft.sources

import scala.collection.immutable.SortedSet
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S7 — the reference's external-KV postings store
  * (`BuildInvertedIndexHBase.java`, `BooleanRetrievalHBase.java:124-141`:
  * one HBase row per term, one `Get` per query term), re-expressed as a
  * PLUGGABLE point-lookup interface so the engine doesn't hard-wire any
  * store. The contract mirrors the reference's two lookups:
  * `fetchPostings(term)` → doc-id-sorted (doc, tf) pairs, and
  * `fetchDocumentSet(term)` → the sorted doc-id set boolean retrieval
  * intersects/unions.
  *
  * The default backend is parquet: the store is the `postingsLists`
  * table written range-partitioned + sorted on `term`, so each file
  * holds one disjoint term range. Opening it reads every file's footer
  * once into a REGION MAP, the `term` min/max of each row group — the
  * HBase client's cached region locations. A lookup routes the term
  * through that map to the one file whose range holds it and reads
  * that file alone (see [[TermStore.parquetBacked]]): the `Get`'s one
  * RPC to one region server, on immutable files with zero extra
  * infrastructure. A deployment with a real KV store implements the
  * same trait; everything downstream (interactive boolean retrieval
  * over a pre-built index) is backend-agnostic.
  *
  * Scale note: a point lookup returns ONE term's postings to the
  * driver — same contract as the reference's `Get`. Set algebra over
  * many huge postings lists belongs in `Index.booleanQuery`, which
  * stays fully distributed; this store serves the interactive
  * few-terms path.
  */
trait TermStore extends AutoCloseable {
  /** Doc-id-sorted (doc_id, tf) postings of one term; empty if absent. */
  def fetchPostings(term: String): Seq[(Long, Long)]

  /** The term's doc-id set (reference `fetchDocumentSet`). */
  def fetchDocumentSet(term: String): SortedSet[Long] =
    SortedSet(fetchPostings(term).map(_._1): _*)

  override def close(): Unit = ()
}

object TermStore {

  /** Write `postingsLists`-shaped rows (term, df, postings[(doc_id,
    * tf)]) as a term-ordered parquet store: `repartitionByRange` gives
    * disjoint term ranges per file and the in-file sort makes parquet
    * page/row-group min-max stats selective, so `term = x` prunes to
    * one file and few pages.
    */
  def write(postingsLists: DataFrame, path: String, files: Int = 8): Unit =
    postingsLists
      .repartitionByRange(files, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(path)

  /** Parquet-backed store over a directory written by [[write]].
    *
    * Opening it lists the directory and reads each file's footer once on
    * the driver into the region map: per file, the `term` statistics of
    * every row group. The store is immutable after open: a rewrite of
    * `path` is seen only by a store opened after it.
    *
    * A lookup picks the files with a row group whose [min, max] holds
    * the term. None (a term below, above or between the files' ranges)
    * answers empty without running anything. Otherwise the lookup is ONE
    * Spark job with one task per picked file (one split per file) —
    * after a range-partitioned [[write]], one task. Each task reads its
    * file through Hadoop's `ParquetInputFormat` with the predicate
    * `term = t`, so parquet skips row groups by their statistics and
    * dictionaries, skips pages by the column index, and its record
    * filter drops the other terms' rows before they are assembled. No
    * Catalyst plan is analyzed, optimized or planned per lookup.
    *
    * Why a job and not a driver-side read: the input path is
    * `NewHadoopRDD`, so the task reports its input bytes and records
    * like any scan, and a present term's cost stays visible to task
    * metrics.
    */
  def parquetBacked(s: SparkSession, path: String): TermStore = {
    val conf = new Configuration(s.sparkContext.hadoopConfiguration)
    val fs = new Path(path).getFileSystem(conf)
    val footers = fs.listStatus(new Path(path))
      .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
      .map(st => st.getPath -> Using.resource(
        ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf)))(_.getFooter))
    val regions = footers.map { case (file, footer) =>
      file -> footer.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala
        .find(_.getPath == TermColumn)
        .map(_.getStatistics.asInstanceOf[Statistics[Binary]]))
    }
    footers.headOption.foreach { case (_, footer) =>
      val schema = footer.getFileMetaData.getSchema
      conf.set(ReadSupport.PARQUET_READ_SCHEMA, new MessageType(schema.getName,
        schema.getFields.asScala.filter(f => f.getName != "df").asJava).toString)
    }
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[GroupReadSupport].getName)
    conf.setLong(FileInputFormat.SPLIT_MINSIZE, Long.MaxValue)
    new TermStore {
      override def fetchPostings(term: String): Seq[(Long, Long)] = {
        val t = Binary.fromString(term)
        val files = regions.collect { case (f, groups) if groups.exists(holds(_, t)) => f }
        if (files.isEmpty) Nil
        else {
          val job = Job.getInstance(conf)
          FileInputFormat.setInputPaths(job, files: _*)
          ParquetInputFormat.setFilterPredicate(job.getConfiguration,
            FilterApi.eq(FilterApi.binaryColumn("term"), t))
          s.sparkContext.newAPIHadoopRDD(job.getConfiguration,
              classOf[ParquetInputFormat[Group]], classOf[Void], classOf[Group])
            .flatMap { case (_, row) => postings(row) }
            .collect().sortBy(_._1).toSeq
        }
      }
    }
  }

  private val TermColumn = ColumnPath.get("term")

  /** Whether a row group with these `term` statistics may hold `t`; one
    * whose writer kept no min/max (parquet drops values over 4 KB)
    * always may. */
  private def holds(st: Statistics[Binary], t: Binary): Boolean =
    !st.hasNonNullValue || (st.compareMinToValue(t) <= 0 && st.compareMaxToValue(t) >= 0)

  /** The (doc_id, tf) pairs of one store row, read through Spark's
    * three-level parquet list layout (`postings.list[i].element`). */
  private def postings(row: Group): Iterator[(Long, Long)] =
    if (row.getFieldRepetitionCount("postings") == 0) Iterator.empty
    else {
      val list = row.getGroup("postings", 0)
      Iterator.range(0, list.getFieldRepetitionCount(0)).map { i =>
        val p = list.getGroup(0, i).getGroup(0, 0)
        (p.getLong("doc_id", 0), p.getLong("tf", 0))
      }
    }
}
