package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.catalog.{Identifier, View, ViewInfo}
import org.apache.spark.sql.types.StructType

/** SQL VIEW persistence for [[ManifestCatalog]] — the ViewCatalog
  * storage layer: one view = one `<name>._view` FILE beside the table
  * directories (a file can never be mistaken for a table, whose marker
  * is the `_manifests` subdirectory, and directory listings stay the
  * single source of truth — no metastore). The payload is one JSON
  * object carrying exactly what the engine's view resolution needs:
  * the original query TEXT plus the name-resolution context it was
  * created under (current catalog/namespace), the analyzed schema, and
  * the column aliases/comments — Spark re-parses the text against that
  * context at read time, so views compose with every other face
  * (tables, time travel, metadata tables, other views).
  *
  * Writes are atomic by the manifest discipline: temp file +
  * rename-without-overwrite for CREATE (a racing CREATE loses loudly),
  * delete + rename for REPLACE (last writer wins — views carry no OCC
  * version history; they are name→text bindings, not data).
  */
private[sources] object ManifestViews {

  val Suffix = "._view"

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private def quote(values: Seq[String]): JArray =
    JArray(values.map(JString(_)).toList)

  def write(fs: FileSystem, path: Path, info: ViewInfo,
      replace: Boolean): Unit = {
    val json: JObject = JObject(List(
      "sql" -> JString(info.sql()),
      "currentCatalog" -> JString(info.currentCatalog()),
      "currentNamespace" -> quote(info.currentNamespace().toSeq),
      "schema" -> JsonMethods.parse(info.schema().json),
      "queryColumnNames" -> quote(info.queryColumnNames().toSeq),
      "columnAliases" -> quote(info.columnAliases().toSeq),
      "columnComments" -> quote(Option(info.columnComments())
        .map(_.toSeq.map(c => if (c == null) "" else c))
        .getOrElse(Nil)),
      "properties" -> JObject({
        import scala.jdk.CollectionConverters._
        info.properties().asScala.toList.map { case (k, v) =>
          k -> (JString(v): JValue)
        }
      })))
    val bytes = JsonMethods.compact(JsonMethods.render(json))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tmp = new Path(path.getParent,
      s".${path.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (replace) {
      // REPLACE is one atomic overwrite-rename (FileContext's
      // Rename.OVERWRITE): a concurrent reader sees either the old or
      // the new definition, never a missing view, and a crash here
      // loses nothing (delete-then-rename would open both windows)
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        path.toUri, fs.getConf)
      fc.rename(tmp, path,
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } else if (!fs.rename(tmp, path)) {
      fs.delete(tmp, false)
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(Identifier.of(Array.empty,
          path.getName.stripSuffix(Suffix)))
    }
  }

  def read(fs: FileSystem, path: Path, viewName: String): View = {
    val j = JsonMethods.parse(Bytes.readUtf8(fs, path))
    def str(k: String): String = (j \ k) match {
      case JString(s) => s
      case _ => throw new IllegalStateException(
        s"view file $path: missing '$k'")
    }
    def arr(k: String): Array[String] = (j \ k) match {
      case JArray(xs) => xs.collect { case JString(s) => s }.toArray
      case _ => Array.empty
    }
    val props: java.util.Map[String, String] = {
      val m = new java.util.HashMap[String, String]()
      (j \ "properties") match {
        case JObject(fields) => fields.foreach {
          case (k, JString(v)) => m.put(k, v)
          case _ =>
        }
        case _ =>
      }
      m
    }
    val schemaJson = JsonMethods.compact(JsonMethods.render(j \ "schema"))
    new View {
      override def name(): String = viewName
      override def query(): String = str("sql")
      override def currentCatalog(): String = str("currentCatalog")
      override def currentNamespace(): Array[String] =
        arr("currentNamespace")
      override def schema(): StructType =
        org.apache.spark.sql.types.DataType.fromJson(schemaJson)
          .asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] =
        arr("queryColumnNames")
      override def columnAliases(): Array[String] = arr("columnAliases")
      override def columnComments(): Array[String] = arr("columnComments")
      override def properties(): java.util.Map[String, String] = props
    }
  }
}
