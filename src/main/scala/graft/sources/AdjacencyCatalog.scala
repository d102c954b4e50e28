package graft.sources

import java.util
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{
  NoSuchFunctionException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{
  FunctionCatalog, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{
  BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Literal, Transform}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource-V2 `TableCatalog` over [[AdjacencyDataSource]] tables
  * (W532): identifiers map to directories under a configured root
  * (`spark.sql.catalog.<name>.root`), each directory an adjacency-list
  * table. This is the piece that lets the adjacency source participate
  * in name-resolved plans — `spark.table("cat.edges")`,
  * `df.writeTo("cat.edges").create()/append()/overwrite(cond)` — so
  * Catalyst's DSv2 rules (create-table-as-select, append, and
  * OVERWRITE-BY-FILTER with the condition translated to source
  * filters) drive the connector instead of path-string plumbing. At
  * cluster scale the root is a shared filesystem prefix and the
  * catalog is the graph-table namespace a 1000-executor job resolves
  * against.
  */
class AdjacencyCatalog extends TableCatalog with FunctionCatalog {
  private var catName: String = _
  private var root: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = Option(options.get("root")).getOrElse(throw
      new IllegalArgumentException(
        s"spark.sql.catalog.$name.root is required"))
  }
  override def name(): String = catName

  // W556: opt in to ALTER TABLE ADD/DROP CONSTRAINT routing here
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def dir(ident: Identifier): Path =
    (ident.namespace() :+ ident.name())
      .foldLeft(new Path(root))((p, s) => new Path(p, s))
  private def fs: FileSystem =
    FileSystem.get(new Path(root).toUri, AdjacencySource.driverConf())

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = namespace.foldLeft(new Path(root))((p, s) => new Path(p, s))
    if (!fs.exists(base)) Array.empty
    else fs.listStatus(base).filter(_.isDirectory)
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    fs.exists(dir(ident))

  override def loadTable(ident: Identifier): Table = {
    val d = dir(ident)
    if (!fs.exists(d)) throw new NoSuchTableException(ident)
    new AdjacencyTable(d.toString, false)
  }

  /** The one partition transform supported (W552): `bucket(n, src)` —
    * returns n, or None for an unpartitioned create; anything else
    * rejects loudly. */
  private def bucketCount(partitions: Array[Transform]): Option[Int] =
    partitions match {
      case Array() => None
      case Array(t) if t.name() == "bucket" &&
          t.references().map(_.fieldNames().mkString(".")).toSeq ==
            Seq("src") =>
        t.arguments().collectFirst {
          case l: Literal[_] if l.value().isInstanceOf[Number] =>
            l.value().asInstanceOf[Number].intValue()
        } match {
          case Some(n) if n > 0 => Some(n)
          case _ => throw new IllegalArgumentException(
            s"bucket transform needs a positive bucket count; got $t")
        }
      case other => throw new IllegalArgumentException(
        "graft-adjacency tables support PARTITIONED BY " +
          s"(bucket(n, src)) only; got ${other.mkString(", ")}")
    }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val buckets = bucketCount(partitions)
    val fields = schema.fields
    require(fields.length == 2 && fields.forall(_.dataType == LongType) &&
      fields.map(_.name).toSeq == Seq("src", "dst"),
      s"graft-adjacency tables are (src: bigint, dst: bigint); " +
        s"got ${schema.simpleString}")
    val d = dir(ident)
    if (fs.exists(d)) throw new TableAlreadyExistsException(ident)
    fs.mkdirs(d)
    buckets.foreach(n => AdjacencySource.writeBucketSpec(
      d.toString, n, AdjacencySource.driverConf()))
    // CHECK constraint (W556): a `check` table property persists as a
    // sidecar and is reported ENFORCED through Table.constraints()
    Option(properties.get("check")).filter(_.trim.nonEmpty).foreach(sql =>
      AdjacencySource.writeCheckSpec(
        d.toString, sql.trim, AdjacencySource.driverConf()))
    new AdjacencyTable(d.toString, false)
  }

  // ---- FunctionCatalog (W552): the `bucket` function the reported
  // KeyGroupedPartitioning's transform resolves against. Identity of
  // this function (canonicalName) is what Spark compares to decide two
  // scans are co-partitioned — both sides of a storage-partitioned
  // join resolve it here, so the comparison is by construction true
  // for same-bucket-count graft tables.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(namespace, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket")
      GraftBucketFunction.unbound
    else throw new NoSuchFunctionException(ident)

  /** Schema is fixed; the ONE alterable aspect is the W556 CHECK
    * constraint — `ALTER TABLE … ADD CONSTRAINT <name> CHECK (…)`
    * persists the predicate to the sidecar (Spark validates existing
    * rows first when the constraint is ENFORCED), and
    * `DROP CONSTRAINT` removes it. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val d = dir(ident)
    if (!fs.exists(d)) throw new NoSuchTableException(ident)
    changes.foreach {
      case ac: TableChange.AddConstraint =>
        ac.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            require(
              AdjacencySource.readCheckSpec(d.toString,
                AdjacencySource.driverConf()).isEmpty,
              "graft-adjacency tables hold at most one CHECK " +
                "constraint; DROP the existing one first")
            AdjacencySource.writeCheckSpec(d.toString, c.predicateSql(),
              AdjacencySource.driverConf())
          case other => throw new UnsupportedOperationException(
            s"graft-adjacency supports CHECK constraints only; got $other")
        }
      case _: TableChange.DropConstraint =>
        val f = new Path(d, AdjacencySource.CheckSpecFile)
        fs.delete(f, false)
        ()
      case _ => throw new UnsupportedOperationException(
        "graft-adjacency tables have a fixed (src, dst) schema")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val d = dir(ident)
    fs.exists(d) && fs.delete(d, true)
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.rename(dir(oldIdent), dir(newIdent)))
      throw new java.io.IOException(
        s"failed to rename ${dir(oldIdent)} to ${dir(newIdent)}")
  }
}

/** `bucket(n, src)` as a catalog-resolvable V2 function (W552):
  * floor-mod of the src key — the SAME arithmetic
  * [[AdjacencySource.bucketOf]] uses to name the writer's bucket-pure
  * files. Spark only needs it for identity comparison and (under
  * partially-clustered distribution) partition-value evaluation, but
  * the implementation must agree with the storage layout regardless.
  */
object GraftBucketFunction extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] =
    Array(IntegerType, LongType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket(src)"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer =
    AdjacencySource.bucketOf(input.getLong(1), input.getInt(0))

  val unbound: UnboundFunction = new UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(n, src): floor-mod bucket of a graft-adjacency src key"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2 &&
        inputType.fields(0).dataType == IntegerType &&
        inputType.fields(1).dataType == LongType,
        s"bucket(n: int, src: bigint); got ${inputType.simpleString}")
      GraftBucketFunction
    }
  }
}

/** The W532 gate query: drive the catalog + overwrite-by-filter path
  * end-to-end and surface a census the DuckDB oracle can restate. */
object CatalogAudit {
  private val ctr = new AtomicLong(0L)

  private def deleteRec(root: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  /** The W534 gate query: dynamic pruning through
    * `SupportsRuntimeFiltering` — (nation → region) edges staged as an
    * adjacency table, joined to the nation dim filtered on a NON-join
    * column (n_regionkey = 2, so static constraint inference cannot
    * pre-push a src range); at execution the broadcast build side
    * hands the scan its n_nationkey set as `In(src, ...)` and the
    * reader skips non-matching lines before the neighbor fan-out. The
    * census must equal the plain join restatement (runtime filters are
    * an optimization — Spark keeps the join above — so the oracle pins
    * values while AdjacencySourceSpec pins the pruning posture).
    */
  def runtimeFilterAudit(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cat_rtf").toString
    try {
      val nation = graft.Tables.nation(s, dir)
      nation.select(col("n_nationkey").cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
        .write.format("graft-adjacency").mode("append").save(root)
      val edges = s.read.format("graft-adjacency").load(root)
      val dim = nation.filter(col("n_regionkey") === 2)
        .select(col("n_nationkey").cast("long").as("k"))
      edges.join(dim, col("src") === col("k"))
        .groupBy("src")
        .agg(count(lit(1)).as("n_edges"), sum("dst").as("dst_sum"))
        .orderBy("src")
        .localCheckpoint() // materialize before the root is deleted
    } finally deleteRec(root)
  }

  /** The W535 gate query: LIMIT / top-N pushdown through the DSv2 scan
    * — ORDER BY (src DESC, dst) LIMIT 7 plans a size-7 bounded heap
    * per reader (`SupportsPushDownTopN`), so 7 rows per file reach the
    * final TakeOrdered instead of the full edge fan-out. The order-free
    * census over the top rows must equal the SQL restatement (the
    * ordering is total — src unique — so the cut is deterministic);
    * AdjacencySourceSpec pins that the scan actually received the
    * pushed (orders, k) and a bare limit. */
  def topNPushAudit(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cat_topn").toString
    try {
      graft.Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
        .write.format("graft-adjacency").mode("append").save(root)
      s.read.format("graft-adjacency").load(root)
        .orderBy(col("src").desc, col("dst")).limit(7)
        .agg(count(lit(1)).as("n_rows"), sum("src").as("src_sum"),
          sum("dst").as("dst_sum"))
        .localCheckpoint() // materialize before the root is deleted
    } finally deleteRec(root)
  }

  /** The W536 gate query: `SupportsReportStatistics` — the scan
    * reports its file-listing size, so Catalyst AUTO-broadcasts the
    * small adjacency build side into the customer join (without stats
    * a DSv2 scan reports the conf default and can never win the
    * broadcast decision). Values are the plain join census either way
    * (the stat only moves the build side); the spec pins that the
    * BatchScanExec actually lands under the broadcast exchange. */
  def statsAudit(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cat_stats").toString
    try {
      graft.Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
        .write.format("graft-adjacency").mode("append").save(root)
      val edges = s.read.format("graft-adjacency").load(root)
      val cust = graft.Tables.customer(s, dir)
        .select(col("c_nationkey").cast("long").as("k"),
          floor(col("c_acctbal") * 100 + lit(0.5)).cast("long")
            .as("bal_cents"))
      edges.join(cust, col("src") === col("k"))
        .groupBy("dst")
        .agg(count(lit(1)).as("n_custs"), sum("bal_cents").as("bal_sum"))
        .orderBy("dst")
        .localCheckpoint() // materialize before the root is deleted
    } finally deleteRec(root)
  }

  /** The W537 gate query: aggregate pushdown
    * (`SupportsPushDownAggregates`) — an ungrouped COUNT(*)/MIN/MAX
    * census over the staged edges folds inside each reader (one
    * partial row per file reaches Spark's final merge); values must
    * equal the SQL restatement, and AdjacencySourceSpec pins that the
    * scan actually received the pushed aggregation and that multi-file
    * partials merge exactly. */
  def aggPushAudit(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cat_agg").toString
    try {
      graft.Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
        .write.format("graft-adjacency").mode("append").save(root)
      s.read.format("graft-adjacency").load(root)
        .agg(count(lit(1)).as("n_edges"),
          min("src").as("src_min"), max("src").as("src_max"),
          min("dst").as("dst_min"), max("dst").as("dst_max"))
        .localCheckpoint() // materialize before the root is deleted
    } finally deleteRec(root)
  }

  /** The W538 gate query: the `_source_file` METADATA COLUMN
    * (`SupportsMetadataColumns`) — per-file provenance census. The
    * nation edges stage as two fixed-name text files (a.txt = src <
    * 12, b.txt = the rest; 25 collected rows — fixture staging, not a
    * data path), the scan SELECTs the hidden column by name, and the
    * per-source-file rollup must match the SQL restatement of the same
    * split. At corpus scale this is the lineage column a quarantine /
    * re-ingest audit groups by. */
  def metadataColAudit(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cat_meta").toString
    try {
      val rows = graft.Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      def stage(name: String, es: Seq[(Long, Long)]): Unit =
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(root, name),
          es.map { case (a, b) => s"$a $b" }.mkString("", "\n", "\n"))
      stage("a.txt", rows.filter(_._1 < 12).toSeq)
      stage("b.txt", rows.filter(_._1 >= 12).toSeq)
      s.read.format("graft-adjacency").load(root)
        .select(col("dst"), col(AdjacencySource.SourceFileCol).as("f"))
        .groupBy(regexp_extract(col("f"), "([ab]\\.txt)$", 1)
          .as("source_file"))
        .agg(count(lit(1)).as("n_edges"), sum("dst").as("dst_sum"))
        .orderBy("source_file")
        .localCheckpoint() // materialize before the root is deleted
    } finally deleteRec(root)
  }

  /** The W552 gate query: STORAGE-PARTITIONED JOIN — a bucketed
    * adjacency table (`PARTITIONED BY (bucket(8, src))`, bucket-pure
    * files, catalog-resolved `bucket` function) self-joined on src
    * with auto-broadcast disabled, so the join can only avoid the
    * exchange by riding the scan's reported KeyGroupedPartitioning
    * (`spark.sql.sources.v2.bucketing.enabled`). The per-src pair
    * census must equal the oracle's restatement; SpjSpec pins the
    * plan posture (ZERO shuffle exchanges under the join) and the
    * file-level bucket purity the report stands on. At 100 TB this is
    * the co-located-join story: two bucketed graph tables join
    * shuffle-free on 1000 executors because co-bucketed splits are
    * grouped into the same partition at planning time.
    */
  def spjSelfJoinAudit(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cat_spj").toString
    val cat = s"graft_adj_c${ctr.incrementAndGet()}"
    val tuned = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = tuned.map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[AdjacencyCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      // the small side would auto-broadcast (W536 stats!) and hide the
      // partitioned-join path — force the clustered plan
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.Tables.customer(s, dir)
        .select(pmod(col("c_custkey").cast("long"), lit(100L)).as("src"),
          col("c_nationkey").cast("long").as("dst"))
        .writeTo(s"$cat.edges")
        .partitionedBy(bucket(8, col("src")))
        .create()
      val e = s.table(s"$cat.edges")
      e.as("a").join(e.as("b"), col("a.src") === col("b.src"))
        .groupBy(col("a.src").as("src"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("a.dst") + col("b.dst")).as("dst_sum"))
        .orderBy("src")
        .localCheckpoint() // materialize under the SPJ confs
    } finally {
      deleteRec(root)
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.root")
      saved.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    }
  }

  /** The W554 gate query: SQL `DELETE FROM` through `SupportsDelete` —
    * nation edges staged as a catalog table, `DELETE FROM cat.edges
    * WHERE src >= 12` rewrites every part file in the distributed
    * per-file maintenance job (the overwrite-by-filter machinery with
    * no new data), and the readback census must equal the oracle's
    * `WHERE NOT (src >= 12)` restatement. The delete condition is
    * correctness-bearing: unsupported shapes report
    * `canDeleteWhere = false` and the statement fails loudly
    * (spec-pinned) rather than approximating.
    */
  def deleteAudit(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cat_del").toString
    val cat = s"graft_adj_c${ctr.incrementAndGet()}"
    try {
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[AdjacencyCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      graft.Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
        .writeTo(s"$cat.edges").create()
      s.sql(s"DELETE FROM $cat.edges WHERE src >= 12")
      s.table(s"$cat.edges")
        .groupBy("dst")
        .agg(count(lit(1)).as("n_edges"), sum("src").as("src_sum"))
        .orderBy("dst")
        .localCheckpoint() // materialize before the root is deleted
    } finally {
      deleteRec(root)
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  /** The W556 gate query: ENFORCED DSv2 CHECK constraints — nation
    * edges land in a table created with
    * `check = src >= 0 AND dst BETWEEN 0 AND 4` (all fixture rows
    * satisfy it), then a violating append (dst = 9) must FAIL and
    * land nothing — Catalyst's `ResolveTableConstraints` plans the
    * per-row validation into the write from the constraint the table
    * reports. The census restates the intact fixture, and
    * `violation_rejected` (the write threw AND the census is
    * unchanged) restates as literal TRUE. At 100 TB this is schema
    * governance at the STORAGE boundary: no pipeline, however buggy,
    * can land a row the table's contract forbids.
    */
  def checkAudit(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cat_chk").toString
    val cat = s"graft_adj_c${ctr.incrementAndGet()}"
    try {
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[AdjacencyCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      graft.Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
        .writeTo(s"$cat.edges")
        .tableProperty("check", "src >= 0 AND dst >= 0 AND dst <= 4")
        .create()
      val before = s.table(s"$cat.edges").count()
      // `threw` means CONSTRAINT-rejected, not merely "the write failed":
      // match the violation's error text down the cause chain (the same
      // check CheckConstraintSpec makes) so an unrelated write-path
      // breakage cannot masquerade as enforcement (ADVICE r10)
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ msgs(e.getCause))
      val threw =
        try {
          s.range(1).select(lit(99L).as("src"), lit(9L).as("dst"))
            .writeTo(s"$cat.edges").append()
          false
        } catch { case t: Throwable =>
          msgs(t).exists(m => m.toLowerCase.contains("check") ||
            m.contains("graft_check") ||
            m.toLowerCase.contains("constraint"))
        }
      val after = s.table(s"$cat.edges").count()
      s.table(s"$cat.edges")
        .groupBy("dst")
        .agg(count(lit(1)).as("n_edges"), sum("src").as("src_sum"))
        .withColumn("violation_rejected",
          lit(threw && after == before))
        .orderBy("dst")
        .localCheckpoint() // materialize before the root is deleted
    } finally {
      deleteRec(root)
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  /** Creates an adjacency table through [[AdjacencyCatalog]] with
    * CTAS (`writeTo(...).create()` — edges (region → nation) from the
    * nation fixture), then REPLACES the src ≥ 2 key range with
    * reversed (nation → region) edges via
    * `writeTo(...).overwrite($"src" >= 2)` — Catalyst translates the
    * condition to source filters, the connector rewrites surviving
    * lines as a distributed per-file job, and the new data appends.
    * Readback through `spark.table` resolves the same catalog. The
    * census must equal: original edges with src < 2 ∪ replacement
    * edges.
    */
  def overwriteAudit(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cat_ow").toString
    val cat = s"graft_adj_c${ctr.incrementAndGet()}"
    try {
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[AdjacencyCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val nation = graft.Tables.nation(s, dir)
      nation.select(col("n_regionkey").cast("long").as("src"),
          col("n_nationkey").cast("long").as("dst"))
        .writeTo(s"$cat.edges").create()
      nation.filter(col("n_nationkey") >= 2)
        .select(col("n_nationkey").cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
        .writeTo(s"$cat.edges").overwrite(col("src") >= lit(2L))
      s.table(s"$cat.edges")
        .groupBy("src")
        .agg(count(lit(1)).as("n_edges"), sum("dst").as("dst_sum"))
        .orderBy("src")
        .localCheckpoint() // materialize before the root is deleted
    } finally {
      deleteRec(root)
      // unset the session confs too (ADVICE r9): leaving them pointed
      // at the deleted root leaks a dead catalog entry into the
      // session — SHOW TABLES / resolution against it would fail
      s.conf.unset(s"spark.sql.catalog.$cat")
      s.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }
}
