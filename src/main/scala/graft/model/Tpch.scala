package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic table→triples mapping for the driver test data (FIXTURES.md §4).
  *
  * Each row becomes one subject `urn:t:<table>:<pk>`; each column one predicate
  * `urn:p:<col>` with a typed literal object; each foreign key additionally a link
  * `urn:fk:<col>` to the referenced subject. Each table lands in its own named graph
  * `urn:g:<table>` (quads mode, `rdf/store/AbstractTripleStore.java:872`). Class axioms
  * `urn:c:<Table> rdfs:subClassOf urn:c:Any` are emitted as Axiom-typed statements for
  * the RDFS closure tests.
  *
  * This is the analog of the reference's bulk-load path (`rdf/store/DataLoader.java`,
  * `rdf/rio/StatementBuffer.java`): parse → assign IVs → write statements. Here the
  * "parse" is a columnar scan and IV assignment is the inline term-struct construction —
  * one distributed pass per table, no dictionary shuffle (Term.scala scaladoc).
  */
object Tpch {

  sealed trait Enc
  case object IntE extends Enc
  case object DblE extends Enc
  case object StrE extends Enc
  case object TsE extends Enc

  final case class Col(name: String, enc: Enc, fkTable: String = null)

  final case class Table(name: String, pk: Seq[String], cols: Seq[Col]) {
    def cls: String = "urn:c:" + name.capitalize
  }

  val tables: Seq[Table] = Seq(
    Table("region", Seq("r_regionkey"), Seq(
      Col("r_regionkey", IntE), Col("r_name", StrE))),
    Table("nation", Seq("n_nationkey"), Seq(
      Col("n_nationkey", IntE), Col("n_name", StrE),
      Col("n_regionkey", IntE, fkTable = "region"))),
    Table("customer", Seq("c_custkey"), Seq(
      Col("c_custkey", IntE), Col("c_name", StrE),
      Col("c_nationkey", IntE, fkTable = "nation"),
      Col("c_acctbal", DblE), Col("c_mktsegment", StrE))),
    Table("supplier", Seq("s_suppkey"), Seq(
      Col("s_suppkey", IntE), Col("s_name", StrE),
      Col("s_nationkey", IntE, fkTable = "nation"), Col("s_acctbal", DblE))),
    Table("part", Seq("p_partkey"), Seq(
      Col("p_partkey", IntE), Col("p_name", StrE), Col("p_brand", StrE),
      Col("p_type", StrE), Col("p_size", IntE), Col("p_retailprice", DblE))),
    Table("orders", Seq("o_orderkey"), Seq(
      Col("o_orderkey", IntE), Col("o_custkey", IntE, fkTable = "customer"),
      Col("o_orderstatus", StrE), Col("o_totalprice", DblE),
      Col("o_orderdate", TsE), Col("o_orderpriority", StrE))),
    Table("lineitem", Seq("l_orderkey", "l_linenumber"), Seq(
      Col("l_orderkey", IntE, fkTable = "orders"),
      Col("l_partkey", IntE, fkTable = "part"),
      Col("l_suppkey", IntE, fkTable = "supplier"),
      Col("l_linenumber", IntE), Col("l_quantity", DblE),
      Col("l_extendedprice", DblE), Col("l_discount", DblE), Col("l_tax", DblE),
      Col("l_returnflag", StrE), Col("l_linestatus", StrE), Col("l_shipdate", TsE))),
    Table("events", Seq("event_id"), Seq(
      Col("event_id", IntE), Col("ts", TsE), Col("user_id", IntE),
      Col("event_type", StrE), Col("value", DblE), Col("props", StrE))),
    Table("documents", Seq("doc_id"), Seq(
      Col("doc_id", IntE), Col("text", StrE), Col("lang", StrE),
      Col("source", StrE), Col("n_chars", IntE)))
  )

  private val byName: Map[String, Table] = tables.map(t => t.name -> t).toMap

  def subjectStr(table: String, pkCols: Seq[Column]): Column =
    concat((lit(s"urn:t:$table:") +: pkCols.flatMap(c => Seq(c.cast("string"), lit("-")))
      .dropRight(1)): _*)

  private def litTerm(c: Col, raw: Column, dfType: org.apache.spark.sql.types.DataType): Column = c.enc match {
    case IntE => Term.intLit(raw)
    case DblE => Term.doubleLit(raw)
    case StrE => Term.strLit(raw)
    case TsE => dfType match {
      // driver parquet uses TIMESTAMP(NANOS) → read as long via
      // spark.sql.legacy.parquet.nanosAsLong; convert to micros
      case org.apache.spark.sql.types.LongType =>
        Term.tsLit(timestamp_micros((raw / 1000L).cast(org.apache.spark.sql.types.LongType)))
      case _ => Term.tsLit(raw)
    }
  }

  /** Statements for one table: single scan, array-of-(p,o) explode, null objects dropped.
    *
    * lineitem's (l_orderkey, l_linenumber) is NOT unique in the driver data, so its
    * subject gets a deterministic per-duplicate sequence: row_number over the remaining
    * columns (full rows are unique → total order; identical oracle expression in DuckDB).
    */
  def tableStatements(df0: DataFrame, t: Table): DataFrame = {
    val needsSeq = t.name == "lineitem"
    val df = if (!needsSeq) df0 else {
      val rest = df0.columns.filterNot(t.pk.contains).map(df0(_))
      df0.withColumn("__seq", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(t.pk.map(df0(_)): _*).orderBy(rest: _*)))
    }
    val pkCols = t.pk.map(df(_)) ++ (if (needsSeq) Seq(df("__seq")) else Nil)
    val s = Term.iri(subjectStr(t.name, pkCols))
    val typePo = struct(Term.iri(Term.RDF_TYPE).as("p"), Term.iri(t.cls).as("o"))
    val colPos = t.cols.map { c =>
      val o = when(df(c.name).isNotNull, litTerm(c, df(c.name), df.schema(c.name).dataType))
        .otherwise(Term.nullTerm)
      struct(Term.iri("urn:p:" + c.name).as("p"), o.as("o"))
    }
    val fkPos = t.cols.filter(_.fkTable != null).map { c =>
      val ref = byName(c.fkTable)
      val o = when(df(c.name).isNotNull,
        Term.iri(subjectStr(ref.name, Seq(df(c.name))))).otherwise(Term.nullTerm)
      struct(Term.iri("urn:fk:" + c.name).as("p"), o.as("o"))
    }
    df.select(s.as("s"), explode(array(typePo +: (colPos ++ fkPos): _*)).as("po"))
      .filter(col("po")("o").isNotNull)
      .select(col("s"), col("po")("p").as("p"), col("po")("o").as("o"),
        Term.iri("urn:g:" + t.name).as("g"),
        lit(GraftStore.STYPE_EXPLICIT).cast("byte").as("stype"))
  }

  /** Class-hierarchy axioms: urn:c:<Table> rdfs:subClassOf urn:c:Any (default graph). */
  def axioms(spark: SparkSession): DataFrame = {
    import spark.implicits._
    tables.map(_.cls).toDF("cls").select(
      Term.iri(col("cls")).as("s"), Term.iri(Term.RDFS_SUBCLASSOF).as("p"),
      Term.iri("urn:c:Any").as("o"), Term.nullTerm.as("g"),
      lit(GraftStore.STYPE_AXIOM).cast("byte").as("stype"))
  }

  /** Full statements DataFrame for one scale-factor directory. */
  def statements(spark: SparkSession, dir: String): DataFrame = {
    // driver parquet uses TIMESTAMP(NANOS); ensure the session can read it even when
    // the caller's SparkSession was built without the legacy flag
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // spread each table's raw rows across the cluster BEFORE the ~18× statement
    // explode: the exchange carries the compact source rows, and the term-struct
    // hashing (the dominant load cost) runs at full parallelism even when a source
    // arrives as a single split
    val n = spark.sparkContext.defaultParallelism
    val parts = tables.map { t =>
      tableStatements(spark.read.parquet(s"$dir/${t.name}.parquet").repartition(n), t)
    } :+ axioms(spark)
    GraftStore.assemble(parts.reduce(_.unionByName(_)))
  }

  /** Store registry: builds the predicate-partitioned parquet store once per sf dir and
    * serves a shared handle. Parquet-backed (not just cached) so every query exercises
    * the at-scale path: partition pruning on p_id + pushdown + column pruning.
    */
  private val registry = scala.collection.concurrent.TrieMap.empty[String, GraftStore]

  /** Bump whenever Term encoding / the triples mapping changes — invalidates the
    * cached parquet stores (stale xxhash ids otherwise survive across sessions).
    */
  val STORE_VERSION = 4

  /** Canonical at-rest location for a source dir's store — the single sanitizer
    * shared by `store` and external tools (ScaleStress deletes through this so a
    * "cold" phase really is cold; a hand-built literal path silently diverges).
    */
  def storePath(dir: String): String =
    s"/tmp/graft-store/v$STORE_VERSION${dir.replaceAll("[^A-Za-z0-9.]+", "_")}"

  def store(spark: SparkSession, dir: String): GraftStore =
    registry.getOrElseUpdate(dir, {
      val path = storePath(dir)
      val marker = new java.io.File(path + "/_SUCCESS")
      if (!marker.exists()) {
        // Cold load: normalize+hash the source tables ONCE into a materialized
        // staging table, then fan out the partitioned store, the ID2TERM lexicon
        // and the full-text postings as three CONCURRENT jobs over the cached
        // blocks. Without the persist each job re-runs the ~18× explode + term
        // hashing scan (and `save` runs it twice: predicate histogram + write) —
        // measured 4 redundant derives ≈ 2× the whole cold-load wall clock at
        // sf0.1. Same shape a cluster bulk load takes: land the normalized table
        // and fan out index builds over it (the reference's DataLoader maintains
        // its lexicon and text index inside the load pass).
        // Scratch-space pressure governs two choices here:
        //  1. staging storage level — the deserialized MEMORY_AND_DISK blocks
        //     spill at ~200+ B/statement (a 76 GB block store at x30, measured);
        //     when tight, stage SERIALIZED (MEMORY_AND_DISK_SER, several× less
        //     disk for CPU on re-read — the classic constrained-executor trade);
        //  2. fan-out concurrency — three concurrent index jobs triple the peak
        //     shuffle spill on top of the staging blocks; when tight, run them
        //     sequentially (same total work, bounded peak).
        def treeBytes(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
          else f.length()
        val srcBytes = math.max(treeBytes(new java.io.File(dir)), 1L)
        val usable = new java.io.File("/tmp").getUsableSpace
        // measured at x30: concurrent deserialized spill blew a ~75 GB disk
        // from a 461 MB source (~160× source); 200× headroom keeps the
        // comfortable path for comfortable builds only
        val concurrent = usable > 200L * srcBytes
        System.err.println(f"[graft-load] fanout=${if (concurrent) "concurrent" else "sequential"} " +
          f"(src=${srcBytes / 1e6}%.0f MB, scratch_free=${usable / 1e9}%.1f GB)")
        val stagingLevel =
          if (concurrent) org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
          else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
        val stmts = statements(spark, dir).persist(stagingLevel)
        stmts.count() // materialize before the fan-out so the jobs share blocks
        val staged = new GraftStore(spark, stmts, lexiconPath = Some(path + "-lexicon"))
        if (concurrent) {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.duration.Duration
          val sidx = Future(SubjectIndex.build(stmts, path))
          val jobs = Seq(
            Future(GraftStore.save(stmts, path)),
            Future { staged.nodeTerms; () },
            Future { graft.search.TextIndex.forStore(staged); () })
          (jobs :+ sidx.map(_ => ())).foreach(Await.result(_, Duration.Inf))
          // stamp after save() is at rest so the recorded generation is the
          // real statements `_SUCCESS` mtime
          SubjectIndex.stamp(path, Await.result(sidx, Duration.Inf))
        } else {
          GraftStore.save(stmts, path)
          staged.nodeTerms
          graft.search.TextIndex.forStore(staged)
          SubjectIndex.stamp(path, SubjectIndex.build(stmts, path))
        }
        stmts.unpersist(false) // staging blocks are dead once the store is at rest
      }
      // the open picks the session the store runs on (GraftStore.load);
      // everything below plans on that session, not the caller's
      val st = GraftStore.load(spark, path, withLexicon = true)
      // stores written before the subject access path existed get their
      // sidecar here, once, at open — never lazily inside a query
      SubjectIndex.ensure(st.spark, path)
      st.nodeTerms // shared via the path-keyed cache after a cold load
      graft.search.TextIndex.forStore(st)
      st
    })
}
