package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.meta.{ColumnMeta, DatabaseMeta, TableMeta}

/** The Spark-native catalog surface: the reference's Glue create/update/
  * delete-database lifecycle (`etl_manager/meta.py:755-844`) re-expressed
  * over `spark.catalog` temp views + file-source readers.
  *
  * Scale notes: every reader below produces a plain declarative file-source
  * scan, so Catalyst predicate pushdown / column pruning / partition
  * discovery apply unchanged on a 1000-executor cluster; nothing here
  * collects to the driver.
  */
object GraftCatalog {

  /** View name convention `<db>_<table>` (SURVEY.md §3.1). */
  def viewName(db: DatabaseMeta, table: TableMeta): String =
    s"${db.name}_${table.name}"

  // ---------------------------------------------------------------- readers

  /** Build the DataFrame for one table per its declared data_format
    * (SURVEY.md §2.A mapping of the serde spec templates in
    * `etl_manager/specs/`). */
  def readTable(spark: SparkSession, table: TableMeta, path: String): DataFrame = {
    val hasParts = table.partitions.nonEmpty
    // With directory partitions Spark discovers partition columns from the
    // layout; passing the full schema pins their declared types too.
    val schema = if (hasParts) table.fullSchema else table.dataSchema

    def withBase(r: org.apache.spark.sql.DataFrameReader) =
      if (hasParts) r.option("basePath", path) else r

    table.dataFormat match {
      case "csv" =>
        // LazySimpleSerDe: comma-delimited, NO header, no quoting —
        // metadata order IS physical order (README.md:30,116). A
        // `skip.header.line.count=1` in glue_specific flips header on
        // (example/meta_data/db1/pay.json:18-27).
        val skipHeader = glueSpecificSkipHeader(table)
        withBase(spark.read.schema(schema))
          .option("header", skipHeader)
          .option("sep", csvOptions(table)._1) // field.delim, default ','
          .option("quote", "") // LazySimpleSerDe has no quote handling
          .csv(path)
      case "csv_quoted_nodate" =>
        // OpenCSVSerde semantics: quote `"`, escape `\`, every column
        // deserialized as string THEN cast (Athena behavior, SURVEY §1.2).
        val asStrings = org.apache.spark.sql.types.StructType(
          schema.fields.map(_.copy(dataType = StringType)))
        val (sep, quote, escape) = csvOptions(table)
        val raw = withBase(spark.read.schema(asStrings))
          .option("header", glueSpecificSkipHeader(table))
          .option("sep", sep).option("quote", quote).option("escape", escape)
          .csv(path)
        raw.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      case "json" =>
        // JsonSerDe over newline-delimited JSON (CHANGELOG.md:199-202)
        withBase(spark.read.schema(schema)).json(path)
      case "parquet" =>
        withBase(spark.read.schema(schema)).parquet(path)
      case "orc" =>
        withBase(spark.read.schema(schema)).orc(path)
      case "avro" =>
        // spark-avro module when present; otherwise graft's own avro
        // container-file source built on the bundled org.apache.avro
        // runtime (AvroSerDe analog, specs/avro_specific.json)
        if (avroAvailable)
          withBase(spark.read.schema(schema)).format(AvroFormat).load(path)
        else {
          val partSchema = org.apache.spark.sql.types.StructType(
            table.partitions.map(p => table.fullSchema(p)))
          val raw = graft.sources.AvroFiles.read(spark, path, partSchema)
          raw.select(schema.fields.map(f =>
            col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
        }
      case "regex" =>
        // RegexSerDe: one capture group per column
        // (specs/regex_specific.json:1-15). Extraction + cast are
        // codegen'd expressions — stays in WholeStageCodegen. The text
        // source goes through format("text") + basePath (not textFile) so
        // directory partition columns are discovered, then re-appended
        // after the extraction projection with their declared types.
        val re = regexFor(table)
        val cols = table.columns.filterNot(c => table.partitions.contains(c.name))
        val raw = withBase(spark.read.format("text")).load(path)
        val partFields = table.partitions.filter(raw.columns.contains)
          .map { p =>
            val declared = table.fullSchema.fields.find(_.name == p)
              .map(_.dataType).getOrElse(StringType)
            col(p).cast(declared).as(p)
          }
        raw.select(
          cols.zipWithIndex.map { case (c, i) =>
            regexp_extract(col("value"), re, i + 1).cast(c.toStructField.dataType).as(c.name)
          } ++ partFields: _*)
      case other =>
        throw new IllegalArgumentException(s"unsupported data_format $other")
    }
  }

  def readTable(spark: SparkSession, db: DatabaseMeta, tableName: String,
      warehouseRoot: String): DataFrame =
    readTable(spark, db.table(tableName), db.tablePath(warehouseRoot, tableName))

  /** Walk a nested String->Any map along `path`. */
  private def dig(m: Any, path: List[String]): Option[Any] = (m, path) match {
    case (v, Nil) => Some(v)
    case (mm: scala.collection.Map[_, _], h :: t) =>
      mm.asInstanceOf[scala.collection.Map[String, Any]].get(h).flatMap(dig(_, t))
    case _ => None
  }

  private def compressionFor(table: TableMeta): Option[String] = {
    dig(table.glueSpecific, List("StorageDescriptor", "Parameters", "compressionType"))
      .orElse(dig(table.glueSpecific, List("Parameters", "compressionType")))
      .map(String.valueOf)
      .collect {
        case "none" => "none"
        case c @ ("snappy" | "gzip" | "zstd" | "lz4") => c
      }
  }

  /** Spark 4 bundles AvroFileFormat inside spark-sql but without the
    * spark-avro module's DataSourceRegister service entry, so the "avro"
    * short name does not resolve — the full class name does. */
  private val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  private lazy val avroAvailable: Boolean =
    try { Class.forName(AvroFormat); true }
    catch { case _: ClassNotFoundException => false }

  private def glueSpecificSkipHeader(table: TableMeta): Boolean = {
    dig(table.glueSpecific, List("StorageDescriptor", "Parameters", "skip.header.line.count"))
      .orElse(dig(table.glueSpecific, List("Parameters", "skip.header.line.count")))
      .contains("1")
  }

  /** SerdeInfo.Parameters override from glue_specific (deep-merged over the
    * spec templates, specs/csv_specific.json etc.): `field.delim` for
    * LazySimpleSerDe, `separatorChar`/`quoteChar`/`escapeChar` for
    * OpenCSVSerde. */
  private def serdeParam(table: TableMeta, name: String): Option[String] =
    dig(table.glueSpecific,
        List("StorageDescriptor", "SerdeInfo", "Parameters", name))
      .map(String.valueOf)

  /** (sep, quote, escape) for the two csv serdes, with the spec-template
    * defaults when glue_specific doesn't override. */
  private def csvOptions(table: TableMeta): (String, String, String) =
    table.dataFormat match {
      case "csv" =>
        (serdeParam(table, "field.delim").getOrElse(","), "", "")
      case _ =>
        (serdeParam(table, "separatorChar").getOrElse(","),
          serdeParam(table, "quoteChar").getOrElse("\""),
          serdeParam(table, "escapeChar").getOrElse("\\"))
    }

  private def regexFor(table: TableMeta): String =
    dig(table.glueSpecific,
        List("StorageDescriptor", "SerdeInfo", "Parameters", "input.regex"))
      .map(String.valueOf)
      .getOrElse(throw new IllegalArgumentException(
        s"regex table ${table.name} needs glue_specific input.regex"))

  // ----------------------------------------------------------- registration

  /** create_glue_database analog (meta.py:793-810): register every table as
    * a temp view `<db>_<table>`. `deleteIfExists` drops stale views first. */
  def registerDatabase(spark: SparkSession, db: DatabaseMeta,
      warehouseRoot: String, deleteIfExists: Boolean = false): Unit = {
    if (deleteIfExists) unregisterDatabase(spark, db)
    db.tables.foreach { t =>
      readTable(spark, t, db.tablePath(warehouseRoot, t.name))
        .createOrReplaceTempView(viewName(db, t))
    }
  }

  /** update_glue_database analog (meta.py:812-844): upsert — register
    * missing tables, refresh existing when `updateExisting`. */
  def updateDatabase(spark: SparkSession, db: DatabaseMeta,
      warehouseRoot: String, updateExisting: Boolean = true): Unit =
    db.tables.foreach { t =>
      val name = viewName(db, t)
      if (updateExisting || !spark.catalog.tableExists(name))
        readTable(spark, t, db.tablePath(warehouseRoot, t.name))
          .createOrReplaceTempView(name)
    }

  /** delete_glue_database analog (meta.py:755-767): idempotent, returns a
    * message like the reference. */
  def unregisterDatabase(spark: SparkSession, db: DatabaseMeta): String = {
    val existing = db.tables.map(t => viewName(db, t))
      .filter(spark.catalog.tableExists(_))
    existing.foreach(spark.catalog.dropTempView(_))
    if (existing.nonEmpty) "database deleted"
    else "Cannot find database in catalogue. Doing nothing."
  }

  // ------------------------------------------------- persistent registration

  /** SQL string literal with backslashes/quotes escaped for the default
    * (escape-processing) Spark parser. */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  private def qualified(db: DatabaseMeta, tableName: String): String =
    s"`${db.name}`.`$tableName`"

  /** create_glue_database analog against the REAL metastore
    * (meta.py:793-810 `create_glue_database` → `glue_client.create_table`):
    * `CREATE DATABASE` + one external datasource table per TableMeta with
    * `LOCATION` pointing at the warehouse path. Unlike [[registerDatabase]]
    * (session-scoped temp views), these entries survive into sibling
    * sessions (`spark.newSession()` shares the catalog) and give
    * `MSCK REPAIR TABLE` / [[refreshPartitions]] a genuine partitioned
    * catalog table to operate on — the reference's refresh lifecycle
    * (meta.py:574-643).
    *
    * Formats whose serde does a read-time transform (`regex`,
    * `csv_quoted_nodate`) register as a raw base table `<name>_raw` plus a
    * persistent VIEW `<name>` applying the same extraction/cast SQL the
    * temp-view reader builds, so query semantics are identical either way.
    */
  def registerDatabasePersistent(spark: SparkSession, db: DatabaseMeta,
      warehouseRoot: String, deleteIfExists: Boolean = false): Unit = {
    // validate every table's format UP FRONT so an unsupported one cannot
    // leave the database half-registered mid-loop
    db.tables.foreach { t =>
      if (t.dataFormat == "avro" && !avroAvailable) throw new IllegalStateException(
        s"table ${t.name}: persistent avro registration needs " +
          "org.apache.spark.sql.avro.AvroFileFormat on the classpath")
      if (!Seq("parquet", "orc", "json", "csv", "csv_quoted_nodate", "regex",
          "avro").contains(t.dataFormat))
        throw new IllegalArgumentException(
          s"table ${t.name}: unsupported data_format ${t.dataFormat}")
    }
    if (deleteIfExists) unregisterDatabasePersistent(spark, db)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `${db.name}`")
    db.tables.foreach { t =>
      createCatalogTable(spark, db, t, db.tablePath(warehouseRoot, t.name))
      // initial partition discovery — the reference registers partitions as
      // part of table creation; for us MSCK scans the LOCATION tree
      if (t.partitions.nonEmpty) refreshPartitions(spark, db, t.name)
    }
  }

  /** update_glue_database analog against the REAL metastore
    * (meta.py:812-844 `update_glue_database` → `glue_client.update_table`):
    * upsert — tables missing from the catalog are created; existing ones
    * are re-registered from the (possibly changed) TableMeta only when
    * `updateTablesIfExist` (the reference's `update_tables_if_exist`
    * flag, default False there and here). A re-registration is a
    * definition REPLACEMENT, so a changed serde property (separator,
    * skip-header), schema, or location takes effect immediately — and
    * because the catalog is shared, sibling sessions
    * (`spark.newSession()`) see the updated definition without any
    * re-registration of their own (spec-pinned). */
  def updateDatabasePersistent(spark: SparkSession, db: DatabaseMeta,
      warehouseRoot: String, updateTablesIfExist: Boolean = false): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `${db.name}`")
    db.tables.foreach { t =>
      val exists = spark.catalog.tableExists(s"${db.name}.${t.name}")
      if (!exists || updateTablesIfExist) {
        if (exists) {
          // glue update_table replaces the whole definition; the old
          // entry may be view-backed (regex/OpenCSV) even if the new
          // format isn't — drop whichever objects are actually there
          dropCatalogEntry(spark, db, t.name)
          dropCatalogEntry(spark, db, s"${t.name}_raw")
        }
        createCatalogTable(spark, db, t, db.tablePath(warehouseRoot, t.name))
        if (t.partitions.nonEmpty) refreshPartitions(spark, db, t.name)
      }
    }
  }

  /** Drop a catalog table OR view by name, whichever it is (DROP TABLE
    * on a view — and vice versa — is an error, and the serde-view
    * formats register one of each). */
  private def dropCatalogEntry(spark: SparkSession, db: DatabaseMeta,
      name: String): Unit =
    if (spark.catalog.tableExists(s"${db.name}.$name")) {
      val kind =
        if (spark.catalog.getTable(db.name, name).tableType == "VIEW") "VIEW"
        else "TABLE"
      spark.sql(s"DROP $kind IF EXISTS ${qualified(db, name)}")
    }

  private def createCatalogTable(spark: SparkSession, db: DatabaseMeta,
      t: TableMeta, path: String): Unit = {
    val partClause =
      if (t.partitions.isEmpty) ""
      else t.partitions.map(p => s"`$p`").mkString(" PARTITIONED BY (", ", ", ")")

    def create(name: String, schema: org.apache.spark.sql.types.StructType,
        fmt: String, opts: Map[String, String]): Unit = {
      val optClause =
        if (opts.isEmpty) ""
        else opts.map { case (k, v) => s"`$k` ${sqlLit(v)}" }
          .mkString(" OPTIONS (", ", ", ")")
      spark.sql(s"CREATE TABLE IF NOT EXISTS $name (${schema.toDDL}) " +
        s"USING $fmt$optClause$partClause LOCATION ${sqlLit(path)}")
    }

    val partFields = t.partitions.map(p => t.fullSchema(p))
    def partCols = t.partitions.map(p => s"`$p`")

    t.dataFormat match {
      case "parquet" | "orc" | "json" =>
        create(qualified(db, t.name), t.fullSchema, t.dataFormat, Map.empty)
      case "avro" =>
        if (!avroAvailable) throw new IllegalStateException(
          "data_format 'avro' needs the spark-avro module on the classpath " +
            "(org.apache.spark:spark-avro)")
        create(qualified(db, t.name), t.fullSchema, s"`$AvroFormat`", Map.empty)
      case "csv" =>
        create(qualified(db, t.name), t.fullSchema, "csv", Map(
          "sep" -> csvOptions(t)._1,
          "quote" -> "", // LazySimpleSerDe: no quote handling
          "header" -> glueSpecificSkipHeader(t).toString))
      case "csv_quoted_nodate" =>
        // OpenCSVSerde: raw table deserializes every data column as string,
        // the view casts to the declared types (same as readTable)
        val (sep, quote, escape) = csvOptions(t)
        val rawSchema = org.apache.spark.sql.types.StructType(
          t.dataSchema.fields.map(_.copy(dataType = StringType)) ++ partFields)
        create(qualified(db, s"${t.name}_raw"), rawSchema, "csv", Map(
          "sep" -> sep, "quote" -> quote, "escape" -> escape,
          "header" -> glueSpecificSkipHeader(t).toString))
        val casts = t.dataSchema.fields.map(f =>
          s"CAST(`${f.name}` AS ${f.dataType.sql}) AS `${f.name}`") ++ partCols
        spark.sql(s"CREATE OR REPLACE VIEW ${qualified(db, t.name)} AS " +
          s"SELECT ${casts.mkString(", ")} FROM ${qualified(db, s"${t.name}_raw")}")
      case "regex" =>
        // RegexSerDe: raw text table + a view doing the capture-group
        // extraction and casts (same expressions as readTable)
        val re = regexFor(t)
        val rawSchema = org.apache.spark.sql.types.StructType(
          Array(org.apache.spark.sql.types.StructField("value", StringType)) ++ partFields)
        create(qualified(db, s"${t.name}_raw"), rawSchema, "text", Map.empty)
        val dataCols = t.columns.filterNot(c => t.partitions.contains(c.name))
        val extracts = dataCols.zipWithIndex.map { case (c, i) =>
          s"CAST(regexp_extract(`value`, ${sqlLit(re)}, ${i + 1}) AS " +
            s"${c.toStructField.dataType.sql}) AS `${c.name}`"
        } ++ partCols
        spark.sql(s"CREATE OR REPLACE VIEW ${qualified(db, t.name)} AS " +
          s"SELECT ${extracts.mkString(", ")} FROM ${qualified(db, s"${t.name}_raw")}")
      case other =>
        throw new IllegalArgumentException(s"unsupported data_format $other")
    }
  }

  /** Statistics surface over a persistent table: `ANALYZE TABLE ...
    * COMPUTE STATISTICS` (rowCount + sizeInBytes into the catalog) plus
    * optional `FOR COLUMNS` (ndv/min/max/null histograms for the CBO).
    *
    * Why it matters at 100 TB: AQE re-plans from RUNTIME stats — after a
    * stage has already shuffled. Catalog stats decide the INITIAL plan,
    * which is where a filtered dimension flips from a sort-merge join to
    * a broadcast before anything shuffles at all (with
    * `spark.sql.cbo.enabled`, filter selectivity is estimated from the
    * column ndv instead of pessimistically keeping the scan size). The
    * idiomatic complement to a persistent catalog: re-run after large
    * loads, the way the reference's Glue tables get crawler/partition
    * refreshes.
    *
    * View-backed formats (`regex`, `csv_quoted_nodate`) analyze their
    * `<name>_raw` base table (views hold no storage stats); column names
    * passed for those must be RAW columns (`value` for regex, the
    * pre-cast string columns for csv_quoted_nodate). */
  def analyzeTable(spark: SparkSession, db: DatabaseMeta, tableName: String,
      columns: Seq[String] = Nil): Unit = {
    val t = db.table(tableName)
    val target = t.dataFormat match {
      case "regex" | "csv_quoted_nodate" => s"${t.name}_raw"
      case _ => t.name
    }
    spark.sql(s"ANALYZE TABLE ${qualified(db, target)} COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE ${qualified(db, target)} COMPUTE STATISTICS " +
        s"FOR COLUMNS ${columns.map(c => s"`$c`").mkString(", ")}")
  }

  /** [[analyzeTable]] over every table of the database (no column stats —
    * pass explicit columns per table where the CBO needs them). */
  def analyzeDatabase(spark: SparkSession, db: DatabaseMeta): Unit =
    db.tables.foreach(t => analyzeTable(spark, db, t.name))

  /** delete_glue_database analog for the persistent path (meta.py:755-767):
    * drops the database with its tables/views; external LOCATIONs keep
    * their data (Glue semantics — metadata only). Message parity with
    * [[unregisterDatabase]]. */
  def unregisterDatabasePersistent(spark: SparkSession, db: DatabaseMeta): String =
    if (!spark.catalog.databaseExists(db.name))
      "Cannot find database in catalogue. Doing nothing."
    else {
      spark.sql(s"DROP DATABASE `${db.name}` CASCADE")
      "database deleted"
    }

  /** refresh_partitions / MSCK analog (meta.py:574-643) over a PERSISTENT
    * table registered by [[registerDatabasePersistent]]: discovers
    * partition directories added out-of-band. View-backed formats repair
    * their raw base table. */
  def refreshPartitions(spark: SparkSession, db: DatabaseMeta,
      tableName: String): Unit = {
    val t = db.table(tableName)
    val target = t.dataFormat match {
      case "regex" | "csv_quoted_nodate" => s"${t.name}_raw"
      case _ => t.name
    }
    spark.sql(s"MSCK REPAIR TABLE ${qualified(db, target)}")
  }

  /** delete_data_in_database analog (meta.py:769-791): recursively delete
    * warehouse files for the whole DB or only its declared tables.
    * Trailing-slash prefix safety mirrors the reference's S3 prefix rule. */
  def deleteData(db: DatabaseMeta, warehouseRoot: String,
      tablesOnly: Boolean = false): Unit = {
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val st = java.nio.file.Files.list(p)
        try st.forEach(rm(_)) finally st.close()
      }
      java.nio.file.Files.deleteIfExists(p)
    }
    val warehouse = java.nio.file.Paths.get(warehouseRoot).normalize()
    val roots =
      if (tablesOnly) db.tables.map(t => db.tablePath(warehouseRoot, t.name))
      else Seq(db.databasePath(warehouseRoot))
    roots.map(r => java.nio.file.Paths.get(r.stripSuffix("/") + "/").normalize())
      .filter(_.startsWith(warehouse))
      // never delete the warehouse root itself (a degenerate DatabaseMeta
      // whose databasePath collapses to the root must not wipe everything)
      .filterNot(_ == warehouse)
      .filter(java.nio.file.Files.exists(_))
      .foreach(rm)
  }

  // ---------------------------------------------------------------- writers

  /** Sink: write a DataFrame as a table's data in its declared format and
    * partition layout (the example job's `df.write`, example/.../job.py:35).
    * Partitioned writes shuffle-free: `partitionBy` splits files per key at
    * the task level. */
  def writeTable(df: DataFrame, table: TableMeta, path: String,
      mode: String = "error"): Unit = {
    var w0 = df.write.mode(mode)
    // compressionType from the spec/glue_specific parameters maps to the
    // writer codec (specs/parquet_specific.json "compressionType")
    compressionFor(table).foreach(c => w0 = w0.option("compression", c))
    val w = if (table.partitions.nonEmpty) w0.partitionBy(table.partitions: _*) else w0
    table.dataFormat match {
      case "csv"  =>
        // LazySimpleSerDe symmetry with readTable: the reader parses with NO
        // quote handling, so the writer must not quote either — otherwise a
        // value containing ',' or '"' is quoted on write and read back
        // split/corrupted. With quoting off, embedded separators cannot
        // round-trip at all (true of LazySimpleSerDe itself); Hive's
        // answer is "don't put commas in CSV", and ours is the same.
        w.option("header", false)
          .option("sep", csvOptions(table)._1)
          .option("quote", "\u0000").option("escape", "")
          .option("emptyValue", "").csv(path)
      case "csv_quoted_nodate" =>
        val (sep, quote, escape) = csvOptions(table)
        w.option("header", false)
          .option("sep", sep).option("quote", quote).option("escape", escape)
          .csv(path)
      case "json" => w.json(path)
      case "parquet" => w.parquet(path)
      case "orc" => w.orc(path)
      case "avro" =>
        if (avroAvailable) w.format(AvroFormat).save(path)
        else if (table.partitions.nonEmpty)
          throw new IllegalArgumentException(
            "partitioned avro writes need the spark-avro module; " +
              "graft's built-in avro sink writes unpartitioned container files")
        else graft.sources.AvroFiles.write(df, path, mode, compressionFor(table))
      case other => throw new IllegalArgumentException(s"unwritable format $other")
    }
  }

  /** refresh_partitions analog (meta.py:574-643): for temp-view file tables
    * Spark re-discovers partitions on read; for catalog tables use
    * MSCK/recoverPartitions. */
  def refreshPartitions(spark: SparkSession, tableName: String): Unit =
    spark.catalog.recoverPartitions(tableName)

  /** Reverse catalog read (meta.py:975-998 builds a DatabaseMeta back from
    * the live Glue catalog): rebuild one from a warehouse directory by
    * schema-inferring every table folder (parquet). Table names derive
    * from folder names the way the reference parses locations. */
  def databaseFromWarehouse(spark: SparkSession, name: String, bucket: String,
      warehouseRoot: String, baseFolder: String = ""): DatabaseMeta = {
    val db = DatabaseMeta(name, bucket, baseFolder).validated
    val root = java.nio.file.Paths.get(db.databasePath(warehouseRoot))
    if (!java.nio.file.Files.isDirectory(root)) return db
    val st = java.nio.file.Files.list(root)
    try {
      val it = st.iterator()
      var out = db
      while (it.hasNext) {
        val d = it.next()
        if (java.nio.file.Files.isDirectory(d)) {
          val tname = d.getFileName.toString.toLowerCase.replaceAll("[^a-z0-9_]", "_")
          try out = out.addTable(
            tableMetaFromParquet(spark, tname, s"${d.getFileName}/", d.toString))
          catch { case _: Exception => () } // non-parquet dirs skipped
        }
      }
      out
    } finally st.close()
  }

  /** Schema-inference source (tablemeta_from_parquet_meta, meta.py:1038-1060):
    * derive a TableMeta from an existing parquet file/folder. */
  def tableMetaFromParquet(spark: SparkSession, name: String, location: String,
      path: String): TableMeta =
    TableMeta.fromSparkSchema(name, location,
      graft.sources.ParquetState.read(spark, path).schema)

  /** Column-level schema drift between two snapshots of a table: every
    * column of either side with its agnostic type on each and a status —
    * `unchanged` / `retyped` / `removed` (left only) / `added` (right
    * only). The evolution report a catalog tool emits before deciding
    * whether a new snapshot can register over an existing declaration
    * (the reference's update-table workflow compares declared column
    * lists the same way, `etl_manager/meta.py:262-320`).
    *
    * Schemas are METADATA — the diff is O(#columns) driver work, no data
    * scan at any table size. Types render through
    * [[graft.types.AgnosticType]], the same engine-neutral names the
    * metadata layer round-trips. */
  def schemaDiff(spark: SparkSession,
      left: org.apache.spark.sql.types.StructType,
      right: org.apache.spark.sql.types.StructType): DataFrame = {
    import spark.implicits._
    val l = left.fields.map(f =>
      f.name -> graft.types.AgnosticType.print(f.dataType)).toMap
    val r = right.fields.map(f =>
      f.name -> graft.types.AgnosticType.print(f.dataType)).toMap
    val names =
      (left.fields.map(_.name) ++ right.fields.map(_.name)).distinct.sorted
    names.map { n =>
      val (tl, tr) = (l.get(n), r.get(n))
      val status = (tl, tr) match {
        case (Some(a), Some(b)) => if (a == b) "unchanged" else "retyped"
        case (Some(_), None) => "removed"
        case (None, Some(_)) => "added"
        case (None, None) => throw new IllegalStateException(n)
      }
      (n, tl.orNull, tr.orNull, status)
    }.toSeq.toDF("column_name", "type_left", "type_right", "status")
  }
}
