package graft.meta

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** JSON round-trip for the agnostic metadata format (reference:
  * `etl_manager/meta.py:922-972` read_table_json/read_database_json/
  * read_database_folder, `meta.py:483-505` to_dict/write_to_json).
  * Jackson (shipped with Spark) — no extra dependencies.
  */
object MetaJson {

  val SchemaLink =
    "https://moj-analytical-services.github.io/metadata_schema/table/v1.4.0.json"

  private val mapper = new ObjectMapper()
  private val writer = mapper.writerWithDefaultPrettyPrinter()

  /** `s` as a JSON string literal, quotes included — the one escaper for
    * the hand-assembled JSON lines the mains print. */
  def quote(s: String): String = mapper.writeValueAsString(s)

  // ---- JsonNode <-> plain Scala (for glue_specific / enum payloads) ----

  def nodeToScala(n: JsonNode): Any = {
    if (n.isObject)
      n.properties().asScala.map(e => e.getKey -> nodeToScala(e.getValue))
        .to(scala.collection.immutable.ListMap)
    else if (n.isArray) n.elements().asScala.map(nodeToScala).toSeq
    else if (n.isTextual) n.asText()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isFloatingPointNumber) n.asDouble()
    else if (n.isNull) null
    else n.asText()
  }

  def scalaToNode(v: Any): JsonNode = v match {
    case m: scala.collection.Map[_, _] =>
      val o = mapper.createObjectNode()
      m.foreach { case (k, x) => o.set[JsonNode](String.valueOf(k), scalaToNode(x)) }
      o
    case s: Seq[_] =>
      val a = mapper.createArrayNode()
      s.foreach(x => a.add(scalaToNode(x)))
      a
    case s: String  => mapper.getNodeFactory.textNode(s)
    case b: Boolean => mapper.getNodeFactory.booleanNode(b)
    case i: Int     => mapper.getNodeFactory.numberNode(i.toLong)
    case l: Long    => mapper.getNodeFactory.numberNode(l)
    case d: Double  => mapper.getNodeFactory.numberNode(d)
    case f: Float   => mapper.getNodeFactory.numberNode(f.toDouble)
    case null       => mapper.getNodeFactory.nullNode()
    case other => throw new IllegalArgumentException(s"unsupported json value: $other")
  }

  // ---- column ----

  /** Present AND non-null — an explicit JSON `null` must behave like a
    * missing key, not like Some(NullNode) (which would silently coerce to
    * "null"/false). */
  private def opt(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)

  private def columnFromNode(n: JsonNode): ColumnMeta = ColumnMeta(
    name = n.get("name").asText(),
    typeName = n.get("type").asText(),
    description = opt(n, "description").map(_.asText()).getOrElse(""),
    pattern = opt(n, "pattern").map(_.asText()),
    enumValues = opt(n, "enum").map(a =>
      a.elements().asScala.map(nodeToScala).toSeq),
    nullable = opt(n, "nullable").map(_.asBoolean()),
    sensitivity = opt(n, "sensitivity").map(_.asText()),
    redacted = opt(n, "redacted").map(_.asBoolean()),
  )

  private def columnToNode(c: ColumnMeta): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("name", c.name)
    o.put("type", c.typeName)
    o.put("description", c.description)
    // optional property order follows the reference fixtures: constraint
    // props append after the required triple
    c.nullable.foreach(o.put("nullable", _))
    c.pattern.foreach(o.put("pattern", _))
    c.enumValues.foreach(vs => o.set[JsonNode]("enum", scalaToNode(vs)))
    c.sensitivity.foreach(o.put("sensitivity", _))
    c.redacted.foreach(o.put("redacted", _))
    o
  }

  // ---- table ----

  /** read_table_json (meta.py:922-945): defaults injected for missing
    * partitions/primary_key/glue_specific. */
  def tableFromJson(json: String): TableMeta = {
    val n = mapper.readTree(json)
    def strSeq(field: String): Seq[String] =
      opt(n, field).map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Seq.empty)
    TableMeta(
      name = n.get("name").asText(),
      location = n.get("location").asText(),
      columns = n.get("columns").elements().asScala.map(columnFromNode).toSeq,
      dataFormat = n.get("data_format").asText(),
      description = opt(n, "description").map(_.asText()).getOrElse(""),
      partitions = strSeq("partitions"),
      primaryKey = strSeq("primary_key"),
      glueSpecific = opt(n, "glue_specific")
        .map(g => nodeToScala(g).asInstanceOf[scala.collection.Map[String, Any]].toMap)
        .getOrElse(Map.empty),
    ).validated
  }

  /** to_dict (meta.py:483-505): fixed key order, optionals only when
    * non-empty. */
  def tableToNode(t: TableMeta): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("$schema", SchemaLink)
    o.put("name", t.name)
    o.put("description", t.description)
    o.put("data_format", t.dataFormat)
    val cols = mapper.createArrayNode()
    t.columns.foreach(c => cols.add(columnToNode(c)))
    o.set[JsonNode]("columns", cols)
    o.put("location", t.location)
    if (t.partitions.nonEmpty) o.set[JsonNode]("partitions", scalaToNode(t.partitions))
    if (t.primaryKey.nonEmpty) o.set[JsonNode]("primary_key", scalaToNode(t.primaryKey))
    if (t.glueSpecific.nonEmpty) o.set[JsonNode]("glue_specific", scalaToNode(t.glueSpecific))
    o
  }

  def tableToJson(t: TableMeta): String = writer.writeValueAsString(tableToNode(t))

  // ---- database ----

  def databaseFromJson(json: String): DatabaseMeta = {
    val n = mapper.readTree(json)
    DatabaseMeta(
      name = n.get("name").asText(),
      bucket = n.get("bucket").asText(),
      baseFolder = opt(n, "base_folder").map(_.asText()).getOrElse(""),
      description = opt(n, "description").map(_.asText()).getOrElse(""),
    ).validated
  }

  def databaseToNode(db: DatabaseMeta): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("description", db.description)
    o.put("name", db.name)
    o.put("bucket", db.bucket)
    o.put("base_folder", db.baseFolder)
    o
  }

  def databaseToJson(db: DatabaseMeta): String =
    writer.writeValueAsString(databaseToNode(db))

  // ---- filesystem ----

  def readTableJson(path: String): TableMeta =
    tableFromJson(Files.readString(Paths.get(path)))

  def readDatabaseJson(path: String): DatabaseMeta =
    databaseFromJson(Files.readString(Paths.get(path)))

  /** read_database_folder (meta.py:959-972): database.json + every other
    * *.json as a table. */
  def readDatabaseFolder(folder: String): DatabaseMeta = {
    val dir = Paths.get(folder)
    val db = readDatabaseJson(dir.resolve("database.json").toString)
    val stream = Files.list(dir)
    val tableFiles =
      try stream.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".json"))
        .filterNot(p => p.getFileName.toString == "database.json")
        .toSeq.sortBy(_.getFileName.toString)
      finally stream.close()
    tableFiles.foldLeft(db)((d, p) => d.addTable(readTableJson(p.toString)))
  }

  /** write_to_json (meta.py:855-872): database.json + <table>.json each. */
  def writeDatabaseFolder(db: DatabaseMeta, folder: String,
      writeTables: Boolean = true): Unit = {
    val dir = Paths.get(folder)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("database.json"), databaseToJson(db))
    if (writeTables) db.tables.foreach { t =>
      Files.writeString(dir.resolve(s"${t.name}.json"), tableToJson(t))
    }
  }

  /** Semantic JSON equality (the reference's golden tests compare dicts,
    * tests/test_tests.py:369-390). */
  def jsonEquals(a: String, b: String): Boolean =
    mapper.readTree(a) == mapper.readTree(b)
}
