package graft.catalog

import java.nio.file.Files
import graft.SparkTestBase
import graft.meta.{ColumnMeta, DatabaseMeta, MetaJson, TableMeta}

/** Reader/writer/registration behavior per SURVEY.md §2.A/§2.B. */
class CatalogSpec extends SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("graftcat").toString

  private def write(path: String, name: String, lines: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(path)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), lines.mkString("\n"))
  }

  test("csv reader: header-less, declared order IS physical order") {
    val root = tmp()
    write(s"$root/b/t", "part-0.csv", Seq("1,alpha,2020-01-02", "2,beta,2021-03-04"))
    val t = TableMeta("t", "t/", Seq(
      ColumnMeta("id", "int"), ColumnMeta("name", "character"),
      ColumnMeta("d", "date")))
    val db = DatabaseMeta("db", "b", tables = Seq(t))
    val df = GraftCatalog.readTable(spark, db, "t", root)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getInt(0) == 1 && rows(0).getString(1) == "alpha")
    assert(rows(0).getDate(2).toString == "2020-01-02")
  }

  test("csv reader honors skip.header.line.count via glue_specific deep merge") {
    val root = tmp()
    write(s"$root/b/pay", "part-0.csv", Seq("employee_id,annual_salary", "7,1234.5"))
    val t = TableMeta("pay", "pay/", Seq(
      ColumnMeta("employee_id", "int"), ColumnMeta("annual_salary", "float")),
      glueSpecific = Map("StorageDescriptor" ->
        Map("Parameters" -> Map("skip.header.line.count" -> "1"))))
    val db = DatabaseMeta("db", "b", tables = Seq(t))
    val rows = GraftCatalog.readTable(spark, db, "pay", root).collect()
    assert(rows.length == 1 && rows(0).getInt(0) == 7)
  }

  test("csv_quoted_nodate: OpenCSVSerde quote/escape + string-then-cast") {
    val root = tmp()
    write(s"$root/b/q", "part-0.csv", Seq("\"1\",\"hello, world\"", "\"2\",\"plain\""))
    val t = TableMeta("q", "q/", Seq(
      ColumnMeta("id", "int"), ColumnMeta("s", "character")),
      dataFormat = "csv_quoted_nodate")
    val db = DatabaseMeta("db", "b", tables = Seq(t))
    val rows = GraftCatalog.readTable(spark, db, "q", root).orderBy("id").collect()
    assert(rows(0).getInt(0) == 1 && rows(0).getString(1) == "hello, world")
  }

  test("json reader: newline-delimited with declared schema") {
    val root = tmp()
    write(s"$root/b/j", "part-0.json", Seq(
      """{"id": 1, "tags": ["a","b"], "nest": {"num": 5}}""",
      """{"id": 2, "tags": [], "nest": {"num": 6}}"""))
    val t = TableMeta("j", "j/", Seq(
      ColumnMeta("id", "int"), ColumnMeta("tags", "array<character>"),
      ColumnMeta("nest", "struct<num:int>")), dataFormat = "json")
    val db = DatabaseMeta("db", "b", tables = Seq(t))
    val df = GraftCatalog.readTable(spark, db, "j", root)
    val rows = df.orderBy("id").collect()
    assert(rows(0).getSeq[String](1) == Seq("a", "b"))
    assert(rows(0).getStruct(2).getInt(0) == 5)
  }

  test("regex reader: capture groups become typed columns") {
    val root = tmp()
    write(s"$root/b/r", "part-0.log", Seq("2020-01-01 INFO boot", "2020-01-02 WARN disk"))
    val t = TableMeta("r", "r/", Seq(
      ColumnMeta("d", "date"), ColumnMeta("level", "character"),
      ColumnMeta("msg", "character")), dataFormat = "regex",
      glueSpecific = Map("StorageDescriptor" -> Map("SerdeInfo" ->
        Map("Parameters" -> Map("input.regex" -> "(\\S+) (\\S+) (.*)")))))
    val db = DatabaseMeta("db", "b", tables = Seq(t))
    val rows = GraftCatalog.readTable(spark, db, "r", root).orderBy("d").collect()
    assert(rows(0).getDate(0).toString == "2020-01-01")
    assert(rows(1).getString(1) == "WARN")
  }

  test("partitioned regex table keeps its directory partition columns") {
    val root = tmp()
    write(s"$root/b/r/year=2020", "part-0.log", Seq("a INFO x"))
    write(s"$root/b/r/year=2021", "part-0.log", Seq("b WARN y"))
    val t = TableMeta("r", "r/", Seq(
      ColumnMeta("host", "character"), ColumnMeta("level", "character"),
      ColumnMeta("msg", "character"), ColumnMeta("year", "int")),
      dataFormat = "regex",
      glueSpecific = Map("StorageDescriptor" -> Map("SerdeInfo" ->
        Map("Parameters" -> Map("input.regex" -> "(\\S+) (\\S+) (.*)")))))
      .withPartitions(Seq("year"))
    val db = DatabaseMeta("db", "b", tables = Seq(t))
    val rows = GraftCatalog.readTable(spark, db, "r", root).orderBy("year").collect()
    assert(rows.map(_.getAs[Int]("year")).toSeq == Seq(2020, 2021))
    assert(rows.map(_.getAs[String]("level")).toSeq == Seq("INFO", "WARN"))
  }

  test("csv write/read round-trip is symmetric (no quoting either way)") {
    val root = tmp()
    val t = TableMeta("t", "t/", Seq(
      ColumnMeta("id", "int"), ColumnMeta("s", "character")))
    val db = DatabaseMeta("db", "b", tables = Seq(t))
    import spark.implicits._
    // a value with an embedded quote char must come back verbatim — the
    // LazySimpleSerDe reader does no quote handling, so the writer must
    // not add quotes around it
    val df = Seq((1, """say "hi" twice"""), (2, "plain")).toDF("id", "s")
    GraftCatalog.writeTable(df, t, db.tablePath(root, "t"), mode = "overwrite")
    val back = GraftCatalog.readTable(spark, db, "t", root).orderBy("id").collect()
    assert(back(0).getString(1) == """say "hi" twice""")
    assert(back(1).getString(1) == "plain")
  }

  test("validated rejects an empty bucket; deleteData never removes the warehouse root") {
    intercept[IllegalArgumentException](DatabaseMeta("db", "").validated)
    val root = tmp()
    write(s"$root/keep", "f.txt", Seq("data"))
    // unvalidated degenerate meta whose databasePath IS the warehouse root
    GraftCatalog.deleteData(DatabaseMeta("db", ""), root)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/keep/f.txt")))
  }

  test("serde params honored: field.delim TSV and separatorChar/quoteChar overrides") {
    val root = tmp()
    // LazySimpleSerDe field.delim = tab (specs/csv_specific.json parameter)
    write(s"$root/b/tsv", "part-0.csv", Seq("1\talpha", "2\tbe,ta"))
    val tsv = TableMeta("tsv", "tsv/", Seq(
      ColumnMeta("id", "int"), ColumnMeta("s", "character")),
      glueSpecific = Map("StorageDescriptor" -> Map("SerdeInfo" ->
        Map("Parameters" -> Map("field.delim" -> "\t")))))
    // OpenCSVSerde separatorChar=';' quoteChar='\'' (csv_quoted spec params)
    write(s"$root/b/semi", "part-0.csv", Seq("'1';'x;y'"))
    val semi = TableMeta("semi", "semi/", Seq(
      ColumnMeta("id", "int"), ColumnMeta("s", "character")),
      dataFormat = "csv_quoted_nodate",
      glueSpecific = Map("StorageDescriptor" -> Map("SerdeInfo" ->
        Map("Parameters" -> Map("separatorChar" -> ";", "quoteChar" -> "'")))))
    val db = DatabaseMeta("db", "b", tables = Seq(tsv, semi))
    val t1 = GraftCatalog.readTable(spark, db, "tsv", root).orderBy("id").collect()
    assert(t1.map(_.getString(1)).toSeq == Seq("alpha", "be,ta"))
    val t2 = GraftCatalog.readTable(spark, db, "semi", root).collect()
    assert(t2.head.getInt(0) == 1 && t2.head.getString(1) == "x;y")
    // write path symmetry: TSV round-trips through the same field.delim
    import spark.implicits._
    val df = Seq((3, "ga,mma")).toDF("id", "s")
    GraftCatalog.writeTable(df, tsv, db.tablePath(root, "tsv"), mode = "overwrite")
    val back = GraftCatalog.readTable(spark, db, "tsv", root).collect()
    assert(back.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((3, "ga,mma")))
  }

  test("persistent registration: real catalog tables, visible to a sibling session") {
    val root = tmp()
    import spark.implicits._
    val t = TableMeta("ev", "ev/", Seq(
      ColumnMeta("id", "int"), ColumnMeta("v", "character"),
      ColumnMeta("year", "int"))).withPartitions(Seq("year"))
    val db = DatabaseMeta("persdb1", "b", tables = Seq(t))
    GraftCatalog.writeTable(
      Seq((1, "a", 2020), (2, "b", 2021)).toDF("id", "v", "year")
        .repartition(1),
      t.copy(dataFormat = "parquet"), db.tablePath(root, "ev"), mode = "overwrite")
    GraftCatalog.registerDatabasePersistent(spark, db.copy(tables = Seq(
      t.copy(dataFormat = "parquet"))), root)
    // a temp view would be invisible here: newSession() shares the catalog
    // but clears session-scoped state
    val sibling = spark.newSession()
    val rows = sibling.sql("SELECT id, v, year FROM persdb1.ev ORDER BY id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(rows.map(_.getInt(2)).toSeq == Seq(2020, 2021))
    assert(GraftCatalog.unregisterDatabasePersistent(spark, db) == "database deleted")
    assert(GraftCatalog.unregisterDatabasePersistent(spark, db) ==
      "Cannot find database in catalogue. Doing nothing.")
  }

  test("persistent upsert: changed serde property round-trips to a sibling session; missing table created (r8)") {
    val root = tmp()
    def glueSep(sep: String): Map[String, Any] =
      Map("StorageDescriptor" -> Map("SerdeInfo" ->
        Map("Parameters" -> Map("field.delim" -> sep))))
    val t1 = TableMeta("feed", "feed/", Seq(
      ColumnMeta("id", "int"), ColumnMeta("v", "character")),
      glueSpecific = glueSep("|"))
    val dbV1 = DatabaseMeta("upsdb", "b", tables = Seq(t1))
    write(dbV1.tablePath(root, "feed"), "part-0.csv", Seq("1|alpha", "2|beta"))
    GraftCatalog.registerDatabasePersistent(spark, dbV1, root)
    try {
      val sibling = spark.newSession()
      assert(sibling.sql("SELECT v FROM upsdb.feed ORDER BY id")
        .collect().map(_.getString(0)).toSeq == Seq("alpha", "beta"))

      // the upstream delivery switches separator; metadata v2 changes the
      // glue_specific serde property and ADDS a table
      write(dbV1.tablePath(root, "feed"), "part-0.csv", Seq("1;alpha", "2;beta"))
      val t2 = t1.copy(glueSpecific = glueSep(";"))
      val extra = TableMeta("extra", "extra/", Seq(
        ColumnMeta("k", "int")), dataFormat = "parquet")
      import spark.implicits._
      val dbV2 = dbV1.copy(tables = Seq(t2, extra))
      GraftCatalog.writeTable(Seq(7, 8).toDF("k").repartition(1),
        extra, dbV2.tablePath(root, "extra"), mode = "overwrite")

      // update_tables_if_exist=false (the reference default): the missing
      // table is CREATED, the existing definition is left alone — the old
      // "|" serde now misparses the ";" file (whole line, failed int cast)
      spark.catalog.refreshTable("upsdb.feed") // drop cached ";" file listing/content
      GraftCatalog.updateDatabasePersistent(spark, dbV2, root)
      assert(sibling.sql("SELECT k FROM upsdb.extra ORDER BY k")
        .collect().map(_.getInt(0)).toSeq == Seq(7, 8),
        "upsert must create the missing table")
      val stale = sibling.sql("SELECT id FROM upsdb.feed").collect()
      assert(stale.forall(_.isNullAt(0)),
        s"without update_tables_if_exist the old serde must persist: ${stale.toSeq}")

      // update_tables_if_exist=true: the definition is replaced; the
      // SIBLING session sees the new serde with no action of its own
      GraftCatalog.updateDatabasePersistent(spark, dbV2, root,
        updateTablesIfExist = true)
      val fixed = sibling.sql("SELECT id, v FROM upsdb.feed ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(fixed == Seq((1, "alpha"), (2, "beta")),
        s"sibling must see the upserted serde: $fixed")
      // idempotent: re-running the same upsert changes nothing
      GraftCatalog.updateDatabasePersistent(spark, dbV2, root,
        updateTablesIfExist = true)
      assert(sibling.sql("SELECT count(*) FROM upsdb.feed").head().getLong(0) == 2L)
    } finally GraftCatalog.unregisterDatabasePersistent(spark, dbV1)
  }

  test("MSCK analog: out-of-band partition becomes visible after refreshPartitions") {
    val root = tmp()
    import spark.implicits._
    val t = TableMeta("logs", "logs/", Seq(
      ColumnMeta("id", "int"), ColumnMeta("year", "int")),
      dataFormat = "parquet").withPartitions(Seq("year"))
    val db = DatabaseMeta("persdb2", "b", tables = Seq(t))
    GraftCatalog.writeTable(Seq((1, 2020)).toDF("id", "year").repartition(1),
      t, db.tablePath(root, "logs"), mode = "overwrite")
    GraftCatalog.registerDatabasePersistent(spark, db, root)
    assert(spark.table("persdb2.logs").count() == 1)
    // write a NEW partition directory out-of-band (not through the catalog)
    Seq((2, 2021)).toDF("id", "year").repartition(1).write.mode("append")
      .parquet(s"${db.tablePath(root, "logs")}/year=2021")
    // invisible until the MSCK-style repair discovers the directory
    GraftCatalog.refreshPartitions(spark, db, "logs")
    val years = spark.sql("SELECT year FROM persdb2.logs ORDER BY year")
      .collect().map(_.getInt(0)).toSeq
    assert(years == Seq(2020, 2021), s"got $years")
    GraftCatalog.unregisterDatabasePersistent(spark, db)
  }

  test("analyzeTable: rowCount lands in the catalog; column stats flip a broadcast decision") {
    val root = tmp()
    import spark.implicits._
    val dim = TableMeta("dim", "dim/", Seq(
      ColumnMeta("k", "int"), ColumnMeta("v", "character")),
      dataFormat = "parquet")
    val facts = TableMeta("facts", "facts/", Seq(
      ColumnMeta("k", "int"), ColumnMeta("x", "long")),
      dataFormat = "parquet")
    val db = DatabaseMeta("statdb", "b", tables = Seq(dim, facts))
    // dim rows carry incompressible-ish varied payloads so the parquet
    // scan estimate stays ABOVE the broadcast threshold set below
    GraftCatalog.writeTable(
      (0 until 2000).map(i => (i, s"v${i}_${(i * 2654435761L).toHexString * 4}"))
        .toDF("k", "v").repartition(1),
      dim, db.tablePath(root, "dim"), mode = "overwrite")
    GraftCatalog.writeTable(
      (0 until 5000).map(i => (i % 2000, i.toLong)).toDF("k", "x").repartition(1),
      facts, db.tablePath(root, "facts"), mode = "overwrite")
    GraftCatalog.registerDatabasePersistent(spark, db, root)
    try {
      // 1) rowCount reaches the catalog entry
      GraftCatalog.analyzeTable(spark, db, "dim")
      val statsLine = spark.sql("DESCRIBE TABLE EXTENDED statdb.dim").collect()
        .find(_.getString(0) == "Statistics").map(_.getString(1))
      assert(statsLine.exists(_.contains("2000 rows")),
        s"rowCount missing from catalog stats: $statsLine")

      // 2) under CBO, ndv-based filter estimation on a stats-present dim
      // flips the static join choice to broadcast; without column stats
      // the filtered dim keeps the scan-size estimate and sort-merges.
      // sparkPlan = the INITIAL physical choice (AQE may rescue the
      // stats-less case at runtime — catalog stats fix it before any
      // shuffle happens, which is the point).
      val joined = () => spark.table("statdb.facts")
        .join(spark.table("statdb.dim")
          .filter(org.apache.spark.sql.functions.col("k") === 7), Seq("k"))
      val dimBytes = new java.io.File(db.tablePath(root, "dim"))
        .listFiles().map(_.length()).sum
      withConf(
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> (dimBytes / 2).toString,
        "spark.sql.adaptive.enabled" -> "false") {
        val before = joined().queryExecution.sparkPlan.toString
        assert(before.contains("SortMergeJoin"),
          s"stats-less filtered dim unexpectedly broadcast already:\n$before")
        GraftCatalog.analyzeTable(spark, db, "dim", columns = Seq("k"))
        val after = joined().queryExecution.sparkPlan.toString
        assert(after.contains("BroadcastHashJoin"),
          s"column stats did not flip the join to broadcast:\n$after")
      }
    } finally GraftCatalog.unregisterDatabasePersistent(spark, db)
  }

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("persistent regex + csv_quoted tables register as raw table + view") {
    val root = tmp()
    write(s"$root/b/r", "part-0.log", Seq("h1 INFO ok", "h2 WARN bad"))
    val rx = TableMeta("r", "r/", Seq(
      ColumnMeta("host", "character"), ColumnMeta("level", "character"),
      ColumnMeta("msg", "character")),
      dataFormat = "regex",
      glueSpecific = Map("StorageDescriptor" -> Map("SerdeInfo" ->
        Map("Parameters" -> Map("input.regex" -> "(\\S+) (\\S+) (.*)")))))
    write(s"$root/b/q", "part-0.csv", Seq("\"1\",\"x,y\""))
    val cq = TableMeta("q", "q/", Seq(
      ColumnMeta("id", "int"), ColumnMeta("s", "character")),
      dataFormat = "csv_quoted_nodate")
    val db = DatabaseMeta("persdb3", "b", tables = Seq(rx, cq))
    GraftCatalog.registerDatabasePersistent(spark, db, root)
    val r = spark.sql("SELECT host, level FROM persdb3.r ORDER BY host").collect()
    assert(r.map(_.getString(1)).toSeq == Seq("INFO", "WARN"))
    val q = spark.sql("SELECT id, s FROM persdb3.q").collect()
    assert(q.head.getInt(0) == 1 && q.head.getString(1) == "x,y")
    GraftCatalog.unregisterDatabasePersistent(spark, db)
  }

  test("partitioned parquet: write with partitionBy, read back with discovery") {
    val root = tmp()
    val t = TableMeta("p", "p/", Seq(
      ColumnMeta("v", "double"), ColumnMeta("year", "int")),
      dataFormat = "parquet").withPartitions(Seq("year"))
    val db = DatabaseMeta("db", "b", tables = Seq(t))
    import spark.implicits._
    val df = Seq((1.5, 2020), (2.5, 2021)).toDF("v", "year")
    GraftCatalog.writeTable(df, t, db.tablePath(root, "p"), mode = "overwrite")
    // files land in year=2020/ year=2021/ dirs
    val dirs = new java.io.File(db.tablePath(root, "p")).listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("year=")))
    val back = GraftCatalog.readTable(spark, db, "p", root)
    assert(back.schema.fieldNames.toSeq == Seq("v", "year"))
    assert(back.orderBy("year").collect().map(_.getInt(1)).toSeq == Seq(2020, 2021))
    // partition pruning: filter on year must prune to one directory
    val pruned = back.filter($"year" === 2021)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(pruned.count() == 1)
  }

  test("register/unregister database lifecycle (meta.py:755-844 analog)") {
    val root = tmp()
    write(s"$root/b/t", "part-0.csv", Seq("1,x"))
    val t = TableMeta("t", "t/", Seq(ColumnMeta("id", "int"), ColumnMeta("s", "character")))
    val db = DatabaseMeta("db", "b", tables = Seq(t))
    GraftCatalog.registerDatabase(spark, db, root)
    assert(spark.sql("SELECT * FROM db_t").count() == 1)
    assert(GraftCatalog.unregisterDatabase(spark, db) == "database deleted")
    assert(GraftCatalog.unregisterDatabase(spark, db)
      == "Cannot find database in catalogue. Doing nothing.")
  }

  test("updateDatabase: registers missing views; re-points existing ones only with updateExisting") {
    val (v1, v2) = (tmp(), tmp())
    write(s"$v1/b/t", "part-0.csv", Seq("1,old"))
    write(s"$v2/b/t", "part-0.csv", Seq("1,new"))
    write(s"$v2/b/u", "part-0.csv", Seq("2,added"))
    val cols = Seq(ColumnMeta("id", "int"), ColumnMeta("s", "character"))
    val t = TableMeta("t", "t/", cols)
    val db = DatabaseMeta("updb", "b", tables = Seq(t))
    val db2 = db.copy(tables = Seq(t, TableMeta("u", "u/", cols)))
    def value(view: String): String = spark.sql(s"SELECT s FROM $view").head().getString(0)
    GraftCatalog.registerDatabase(spark, db, v1)
    try {
      GraftCatalog.updateDatabase(spark, db2, v2, updateExisting = false)
      assert(value("updb_t") == "old", "updateExisting = false must leave an existing view alone")
      assert(value("updb_u") == "added", "a missing view must be registered")
      GraftCatalog.updateDatabase(spark, db2, v2, updateExisting = true)
      assert(value("updb_t") == "new", "updateExisting = true must re-point the existing view")
    } finally GraftCatalog.unregisterDatabase(spark, db2)
  }

  test("analyzeDatabase: every persistent table gets sizeInBytes stats") {
    val root = tmp()
    import spark.implicits._
    val tables = Seq("a", "b").map(n => TableMeta(n, s"$n/",
      Seq(ColumnMeta("k", "int")), dataFormat = "parquet"))
    val db = DatabaseMeta("anadb", "b", tables = tables)
    tables.foreach(t => GraftCatalog.writeTable((0 until 10).toDF("k"), t,
      db.tablePath(root, t.name), mode = "overwrite"))
    GraftCatalog.registerDatabasePersistent(spark, db, root)
    try {
      GraftCatalog.analyzeDatabase(spark, db)
      tables.foreach { t =>
        val stats = spark.sql(s"DESCRIBE TABLE EXTENDED anadb.${t.name}").collect()
          .find(_.getString(0) == "Statistics").map(_.getString(1))
        assert(stats.exists(_.matches("""[1-9]\d* bytes.*""")),
          s"${t.name}: no sizeInBytes in catalog stats: $stats")
      }
    } finally GraftCatalog.unregisterDatabasePersistent(spark, db)
  }

  test("deleteData removes table dirs but respects warehouse boundary") {
    val root = tmp()
    write(s"$root/b/t", "part-0.csv", Seq("1"))
    val t = TableMeta("t", "t/", Seq(ColumnMeta("id", "int")))
    val db = DatabaseMeta("db", "b", tables = Seq(t))
    GraftCatalog.deleteData(db, root, tablesOnly = true)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/b/t")))
  }

  test("table definition matches glue_table_definition merge semantics") {
    val db1 = {
      def fixture(n: String) = {
        val in = getClass.getResourceAsStream(s"/meta/db1/$n")
        try scala.io.Source.fromInputStream(in).mkString finally in.close()
      }
      val d = MetaJson.databaseFromJson(fixture("database.json"))
      Seq("employees.json", "pay.json", "teams.json")
        .foldLeft(d)((acc, f) => acc.addTable(MetaJson.tableFromJson(fixture(f))))
    }
    // pay: csv + glue_specific skip.header wins the merge (meta.py:470-471)
    val pay = TableDefinition.forTable(db1, "pay", "/wh")
    val sd = pay("StorageDescriptor").asInstanceOf[Map[String, Any]]
    assert(sd("Parameters").asInstanceOf[Map[String, Any]]("skip.header.line.count") == "1")
    assert(sd("SerdeInfo").asInstanceOf[Map[String, Any]]("SerializationLibrary")
      == "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe")
    assert(sd("Location") == "/wh/my-bucket/database/database1/pay/")
    // teams: partition keys excluded from Columns, present in PartitionKeys
    val teams = TableDefinition.forTable(db1, "teams", "/wh")
    val tsd = teams("StorageDescriptor").asInstanceOf[Map[String, Any]]
    val colNames = tsd("Columns").asInstanceOf[Seq[Map[String, String]]].map(_("Name"))
    assert(!colNames.contains("snapshot_year"))
    val pk = teams("PartitionKeys").asInstanceOf[Seq[Map[String, String]]].map(_("Name"))
    assert(pk == Seq("snapshot_year", "snapshot_month"))
    assert(teams("TableType") == "EXTERNAL_TABLE")
  }

  test("schema evolution: declared meta adds a column, old files null-fill") {
    import spark.implicits._
    val root = tmp()
    val v1 = TableMeta("e", "e/", Seq(ColumnMeta("id", "long"),
      ColumnMeta("a", "character")), dataFormat = "parquet")
    val db1 = DatabaseMeta("db", "b", tables = Seq(v1))
    GraftCatalog.writeTable(Seq((1L, "x")).toDF("id", "a"), v1,
      db1.tablePath(root, "e"), mode = "overwrite")
    // metadata evolves: add_column (meta.py:238-288) + new data lands
    val v2 = v1.addColumn(ColumnMeta("b", "double"))
    val db2 = DatabaseMeta("db", "b", tables = Seq(v2))
    GraftCatalog.writeTable(Seq((2L, "y", 9.5)).toDF("id", "a", "b"), v2,
      db2.tablePath(root, "e"), mode = "append")
    val rows = GraftCatalog.readTable(spark, db2, "e", root)
      .orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(2), "old file should null-fill the new column")
    assert(rows(1).getDouble(2) == 9.5)
  }

  test("compressionType in glue_specific maps to the writer codec") {
    import spark.implicits._
    val root = tmp()
    val t = TableMeta("c", "c/", Seq(ColumnMeta("id", "long")),
      dataFormat = "parquet",
      glueSpecific = Map("StorageDescriptor" ->
        Map("Parameters" -> Map("compressionType" -> "none"))))
    val db = DatabaseMeta("db", "b", tables = Seq(t))
    GraftCatalog.writeTable(Seq(Tuple1(1L)).toDF("id"), t,
      db.tablePath(root, "c"), mode = "overwrite")
    val files = new java.io.File(db.tablePath(root, "c")).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(!_.contains("snappy")),
      files.mkString(","))
  }

  test("orc: write + read round-trip through the catalog") {
    import spark.implicits._
    val root = tmp()
    val t = TableMeta("o", "o/", Seq(
      ColumnMeta("id", "long"), ColumnMeta("d", "date"),
      ColumnMeta("v", "decimal(10,2)")), dataFormat = "orc")
    val db = DatabaseMeta("db", "b", tables = Seq(t))
    val df = Seq((1L, java.sql.Date.valueOf("2020-01-01"), BigDecimal("12.34")))
      .toDF("id", "d", "v").select($"id", $"d", $"v".cast("decimal(10,2)"))
    GraftCatalog.writeTable(df, t, db.tablePath(root, "o"), mode = "overwrite")
    val back = GraftCatalog.readTable(spark, db, "o", root).collect()
    assert(back.length == 1 && back(0).getLong(0) == 1L)
    assert(back(0).getDecimal(2).toPlainString == "12.34")
  }

  test("refreshPartitions: MSCK-style discovery of new partition dirs") {
    import spark.implicits._
    val root = tmp()
    val loc = s"$root/msck_t"
    Seq((1.0, 2020)).toDF("v", "year").write.partitionBy("year").parquet(loc)
    spark.sql(s"""CREATE TABLE msck_t (v DOUBLE, year INT) USING parquet
                  PARTITIONED BY (year) LOCATION '$loc'""")
    GraftCatalog.refreshPartitions(spark, "msck_t")
    assert(spark.table("msck_t").count() == 1)
    // a new partition dir appears out-of-band (the reference's Athena
    // MSCK REPAIR scenario, meta.py:574-643)
    Seq((2.0, 2021)).toDF("v", "year").write.mode("append")
      .partitionBy("year").parquet(loc)
    GraftCatalog.refreshPartitions(spark, "msck_t")
    assert(spark.table("msck_t").count() == 2)
    spark.sql("DROP TABLE msck_t")
  }

  test("reverse catalog read: rebuild DatabaseMeta from a warehouse dir") {
    val root = tmp()
    import spark.implicits._
    val t = TableMeta("t", "t/", Seq(ColumnMeta("id", "long"), ColumnMeta("s", "character")),
      dataFormat = "parquet")
    val db = DatabaseMeta("db", "b", tables = Seq(t))
    GraftCatalog.writeTable(Seq((1L, "x")).toDF("id", "s"), t,
      db.tablePath(root, "t"), mode = "overwrite")
    val back = GraftCatalog.databaseFromWarehouse(spark, "db", "b", root)
    assert(back.tableNames == Seq("t"))
    assert(back.table("t").columns.map(_.typeName) == Seq("long", "character"))
  }

  test("schema inference from parquet (tablemeta_from_parquet_meta analog)") {
    val t = GraftCatalog.tableMetaFromParquet(spark, "lineitem", "lineitem/",
      s"${sf()}/lineitem.parquet")
    assert(t.columns.map(_.typeName).take(5) ==
      Seq("long", "long", "long", "int", "double"))
    assert(t.columns.find(_.name == "l_shipdate").get.typeName == "datetime")
  }

  test("schemaDiff: all four statuses, nested types, deterministic order") {
    import org.apache.spark.sql.types._
    val left = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType),
      StructField("c", ArrayType(FloatType)), StructField("gone", DateType)))
    val right = StructType(Seq(
      StructField("a", LongType),                    // unchanged
      StructField("b", IntegerType),                 // retyped
      StructField("c", ArrayType(DoubleType)),       // retyped (nested)
      StructField("fresh", BooleanType)))            // added
    val out = GraftCatalog.schemaDiff(spark, left, right)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3))).toSeq.sortBy(_._1)
    assert(out == Seq(
      ("a", "long", "long", "unchanged"),
      ("b", "character", "int", "retyped"),
      ("c", "array<float>", "array<double>", "retyped"),
      ("fresh", null, "boolean", "added"),
      ("gone", "date", null, "removed")))
  }
}
