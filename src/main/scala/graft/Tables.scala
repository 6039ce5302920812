package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated star-schema snapshot (TESTDATA.md).
  *
  * One parquet file per table. At cluster scale these would be partitioned
  * catalog tables; the loader is the single seam where that swap happens
  * (mirrors the snapshot-reader role of the reference's psycopg2 extract,
  * see reference src/main/py/ct_data.py:69-97).
  *
  * Schema discovery is cached per session. Spark's parquet schema
  * inference launches a one-task Spark job per read (~85 ms on a warmed
  * 4-core session, more than a small query's own tasks), so [[load]] and
  * [[validate]] both go through [[scan]], which infers a table's schema
  * once and then reads with `spark.read.schema(cached)`. An entry is
  * keyed by the session and the table's qualified path, and it is reused
  * only while both of these still match what inference read:
  *  - every leaf file's name, length and modification time, listed on
  *    every call (a filesystem stat, no Spark job), so a table rewritten
  *    in place is re-inferred on its next read;
  *  - the session's parquet-reader conf (`spark.sql.parquet.*`,
  *    `spark.sql.legacy.parquet.*`, `spark.sql.caseSensitive`), so e.g.
  *    unsetting [[GraftSession.NanosKey]] makes a nanos snapshot fail
  *    fast again instead of reading under a schema the conf no longer
  *    allows.
  * Only discovery is cached: the events `ts` normalization,
  * [[guardLegacyLongTs]] and [[GraftSession.requireNanosConf]] run on
  * every load. The tables are deliberately not registered in the
  * session catalog, which would also cache the file listing and could
  * serve a rewritten table stale.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else scan(spark, s"$dir/$name.parquet")

  /** What schema inference read: leaf files as (path, length, mtime)
    * and the session's parquet-reader conf. */
  private final case class ScanKey(files: Seq[(String, Long, Long)],
      conf: Map[String, String])

  /** Per session (weakly held, so a stopped session's entries go with
    * it): qualified table path → the key inference ran under and the
    * schema it produced. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[String, (ScanKey, StructType)]]())

  private def readerConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }

  /** The one read path for snapshot tables: the cached schema when the
    * [[ScanKey]] still matches, otherwise Spark's own inference (whose
    * result is stored). A path that cannot be listed is not cached, and
    * the plain read raises Spark's usual error for it. */
  private def scan(spark: SparkSession, path: String): DataFrame = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(hPath).toString
    def leaves(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s))
    val key =
      try Some(ScanKey(
        leaves(hPath).map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
          .sortBy(_._1),
        readerConf(spark)))
      catch { case _: java.io.FileNotFoundException => None }
    val cache = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    key.flatMap(k => Option(cache.get(qualified)).filter(_._1 == k)) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(k => cache.put(qualified, (k, df.schema)))
        df
    }
  }

  /** Per-table scanned-schema expectations: column → the catalog type
    * strings the loaders and declared queries are known to handle.
    * Multi-entry sets mark columns whose encoding has drifted across
    * snapshot generations (events.ts: nanos-as-long, UTC instants, or
    * naive micros — all normalized by [[loadEvents]]). */
  private val expectedColumns: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Seq("n_nationkey" -> Set("int"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int")),
    "customer" -> Seq("c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
      "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Seq("s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
      "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
    "part" -> Seq("p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Seq("o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      // NTZ only: unlike events.ts, these tables have no loader
      // normalization branch, and a UTC-instant (TimestampType) column
      // would silently shift every date_trunc boundary with the session
      // TZ — fail the gate rather than accept semantics drift
      "o_orderdate" -> Set("timestamp_ntz"),
      "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq("l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> Set("timestamp_ntz")), // NTZ only — see o_orderdate
    "events" -> Seq("event_id" -> Set("bigint"),
      "ts" -> Set("timestamp_ntz", "bigint", "timestamp"),
      "user_id" -> Set("bigint"), "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Seq("doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("bigint")),
    "embeddings" -> Seq("vec_id" -> Set("bigint"),
      "embedding" -> Set("array<float>"), "label" -> Set("int")))

  /** Fail-fast schema gate over a snapshot directory: every table's
    * SCANNED schema is diffed column-by-column against
    * [[expectedColumns]], and all drift is reported in ONE exception —
    * per-column, with scanned vs accepted types — before any query can
    * error at analysis with a symptom far from the cause. `tables`
    * scopes the gate for harnesses whose input dir deliberately holds a
    * subset (IvfSweep times embeddings only; SkewStress synthesizes an
    * events-only corpus) — the default gates the full snapshot. The
    * `SnapshotIngest.headerDrift` philosophy applied to the fixture
    * seam: a snapshot writer changing an encoding (as the events table's
    * ts has, twice) surfaces here as a named diff naming the table, the
    * column, and both types. No data scan: the schema comes from
    * [[scan]], so a table whose schema is not yet cached costs one
    * one-task inference job and a cached one costs only a file listing
    * (the later [[load]]s of a validated snapshot then hit the cache).
    * Extra columns are tolerated (queries select by name; a snapshot
    * growing a column breaks nothing). */
  def validate(spark: SparkSession, dir: String,
      tables: Seq[String] = all): Unit = {
    val diffs = tables.flatMap { t =>
      try {
        val scanned = scan(spark, s"$dir/$t.parquet").schema
        // events.ts scanning as LONG is a legal legacy encoding ONLY
        // when the footer agrees it is nanos — run the stale-metadata
        // arbitration here too, or the gate would bless a snapshot
        // whose every events query then fails (the exact r10 symptom
        // this gate exists to pre-empt)
        if (t == "events" &&
            scanned.fields.exists(f => f.name == "ts" && f.dataType == LongType))
          guardLegacyLongTs(spark, s"$dir/$t.parquet")
        expectedColumns(t).flatMap { case (col, accepted) =>
          scanned.fields.find(_.name == col) match {
            case None =>
              Some(s"$t.$col: MISSING (expected ${accepted.mkString("|")})")
            case Some(f) if !accepted.contains(f.dataType.catalogString) =>
              Some(s"$t.$col: scanned ${f.dataType.catalogString}, " +
                s"expected ${accepted.mkString("|")}")
            case _ => None
          }
        }
      } catch {
        case e: IllegalStateException => throw e // loader remedies pass through
        case e: Exception =>
          // a nanos snapshot read without the legacy conf fails footer
          // conversion before the per-column diff can run — route it to
          // the same canonical requireNanosConf remedy the loaders give,
          // not a generic "unreadable" line burying the fix
          if (Option(e.getMessage).exists(_.contains("NANOS")))
            GraftSession.requireNanosConf(spark) // throws the remedy if conf off
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString
          Seq(s"$t: unreadable ($msg)")
      }
    }
    if (diffs.nonEmpty) throw new IllegalStateException(
      s"snapshot schema drift in $dir — regenerate the snapshot or extend " +
        s"the loaders:\n  ${diffs.mkString("\n  ")}")
  }

  /** Schema-adaptive events load, normalizing `ts` to TIMESTAMP_NTZ
    * microseconds whatever the snapshot writer produced. Fixture
    * generations have carried `ts` as parquet TIMESTAMP(NANOS) — which
    * Spark scans as raw-nanos LONG under the legacy conf — and as
    * TIMESTAMP(MICROS, isAdjustedToUTC=false), which scans as
    * TIMESTAMP_NTZ directly. The loader declares the TARGET type and
    * branches on the SCANNED type, the same parse-don't-assume stance as
    * the reference extract's declared `parse_dates`
    * (reference src/main/py/ct_data.py:96): a snapshot format drift
    * surfaces here as a named remedy, not as an analysis error eleven
    * queries downstream.
    *
    * Every branch is timezone-invariant (ScaleOpsSpec pins q51 equal
    * across UTC and a DST zone):
    *  - TIMESTAMP_NTZ: already naive micros — pass through untouched.
    *  - LONG (legacy nanos): integer `div 1000` (exact above 2^53 ns
    *    where double division would round) then `timestampadd` against
    *    an NTZ epoch, which keeps the micros naive — a
    *    timestamp_micros→ntz cast would shift them by the session TZ.
    *    This is the one branch that needs the nanosAsLong conf, and the
    *    conf is consulted again when the (lazy) scan executes, so the
    *    loader VERIFIES it comes from the session builder
    *    ([[GraftSession.defaults]]) rather than mutating shared session
    *    state (ContractSpec pins both).
    *  - TIMESTAMP (UTC-adjusted instants): `unix_micros` reads the
    *    instant's epoch micros independent of session TZ, then the same
    *    NTZ-epoch `timestampadd` — i.e. the naive rendering of the
    *    instant in UTC, matching what a DuckDB oracle reads natively. */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    // a nanos snapshot without the legacy conf fails Spark's (eager)
    // footer-schema conversion before the type branch below can run —
    // intercept that one failure so the remedy is named here, not in a
    // PARQUET_TYPE_ILLEGAL wall of text
    val raw =
      try scan(spark, s"$dir/events.parquet")
      catch {
        case e: Exception
            if Option(e.getMessage).exists(_.contains("NANOS")) =>
          GraftSession.requireNanosConf(spark) // throws the canonical remedy
          throw e // conf on yet NANOS still rejected — surface the original
      }
    raw.schema("ts").dataType match {
      case TimestampNTZType => raw
      case LongType =>
        GraftSession.requireNanosConf(spark)
        guardLegacyLongTs(spark, s"$dir/events.parquet")
        raw.withColumn("ts",
          expr("""timestampadd(MICROSECOND, ts div 1000,
                  TIMESTAMP_NTZ '1970-01-01 00:00:00')"""))
      case TimestampType =>
        raw.withColumn("ts",
          expr("""timestampadd(MICROSECOND, unix_micros(ts),
                  TIMESTAMP_NTZ '1970-01-01 00:00:00')"""))
      case other => throw new IllegalStateException(
        s"events.ts scanned as $other — expected TIMESTAMP_NTZ (micros " +
          "snapshot), LONG (nanos snapshot under " +
          s"${GraftSession.NanosKey}=true), or TIMESTAMP (UTC-adjusted " +
          "micros). Regenerate the snapshot or extend Tables.loadEvents " +
          "with the new encoding's normalization.")
    }
  }

  /** The stale-footer-metadata trap, caught at plan time. Spark's
    * parquet reader trusts its own `…sql.parquet.row.metadata` footer
    * key over the file's parquet logical types — so a tool that reads
    * Spark-written longs, casts them to timestamps, and writes with a
    * library that PRESERVES source metadata (pyarrow does) produces a
    * file whose logical type says TIMESTAMP(MICROS) while Spark scans
    * the column as the stale JSON's `long`. The nanos branch would then
    * divide actual-micros by 1000 — every timestamp lands in 1970 and
    * nothing errors (the r11 sf1 oracle sweep caught exactly this in
    * `tools/repack_scaledata.py`). One driver-side footer read of one
    * file arbitrates: a column scanned as LONG whose footer annotation
    * is a non-NANOS timestamp is a contradiction, and the remedy is
    * named here instead of surfacing as silently-wrong results.
    * Footer-only — no data scan — but EVERY data file of a directory is
    * arbitrated, not just the first: mixed repack generations (one file
    * rewritten with stale metadata landing next to clean ones) would
    * pass a first-file sample and silently mis-divide only the stale
    * files. One footer read per file is bounded driver-side cost even
    * at the 32-file snapshot layouts the scale sweeps produce. A
    * missing path arbitrates nothing (a stream may start before its
    * producer's first file lands). */
  private[graft] def guardLegacyLongTs(spark: SparkSession, path: String,
      column: String = "ts"): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val hPath = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = hPath.getFileSystem(conf)
    val files: Seq[org.apache.hadoop.fs.Path] =
      try {
        if (fs.getFileStatus(hPath).isFile) Seq(hPath)
        else fs.listStatus(hPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .map(_.getPath).toSeq
      } catch { case _: java.io.FileNotFoundException => Seq.empty }
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val ann =
        try {
          val schema = reader.getFooter.getFileMetaData.getSchema
          if (schema.containsField(column))
            Option(schema.getType(Seq(column): _*)).filter(_.isPrimitive)
              .flatMap(t => Option(t.asPrimitiveType().getLogicalTypeAnnotation))
          else None
        } finally reader.close()
      ann.foreach {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if t.getUnit != LogicalTypeAnnotation.TimeUnit.NANOS =>
          throw new IllegalStateException(
            s"$f: `$column` scanned as LONG but the parquet footer " +
              s"declares TIMESTAMP(${t.getUnit}) — the file carries stale " +
              "Spark row metadata (org.apache.spark.sql.parquet.row." +
              "metadata) from before a retype, and Spark trusts that key " +
              "over the logical type. Re-write the file without the " +
              "carried-over metadata (pyarrow: replace_schema_metadata" +
              "(None)) so the micros annotation wins. Refusing to apply " +
              "the nanos→micros conversion to what the footer says are " +
              "already micros.")
        case _ => ()
      }
    }
  }
}
