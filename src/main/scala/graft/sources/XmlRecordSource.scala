package graft.sources

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import java.io.{Reader, StringReader}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Distributed flat-record XML source — the Spark-first re-expression of
  * the reference's `parse_xml_file`
  * (/root/reference/prefect/flows/ingest_web_to_gcs.py:61-65), which
  * funnels the whole file through single-node pandas. Here each
  * partition stream-parses its own XML documents with JDK StAX (no
  * DOM materialization, no driver funnel), so ingest scales with
  * executors and memory stays O(record).
  */
object XmlRecordSource {

  /** Stream-parse one XML document: every `<recordTag>` element becomes a
    * field-name -> text map (flat children only, FIDE ratings-file shape). */
  def parseRecords(xml: String, recordTag: String): Iterator[Map[String, String]] =
    parseRecords(new StringReader(xml), recordTag)

  /** `parseRecords` over a document read from `in`, which it leaves open. */
  def parseRecords(in: Reader, recordTag: String): Iterator[Map[String, String]] = {
    val factory = XMLInputFactory.newInstance()
    factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val reader = factory.createXMLStreamReader(in)
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    var rec: scala.collection.mutable.LinkedHashMap[String, String] = null
    var field: String = null
    val sb = new StringBuilder
    while (reader.hasNext) {
      reader.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          val name = reader.getLocalName
          if (name == recordTag) rec = scala.collection.mutable.LinkedHashMap.empty
          else if (rec != null) { field = name; sb.clear() }
        case XMLStreamConstants.CHARACTERS =>
          if (field != null) sb.append(reader.getText)
        case XMLStreamConstants.END_ELEMENT =>
          val name = reader.getLocalName
          if (name == recordTag && rec != null) { out += rec.toMap; rec = null }
          else if (rec != null && name == field) { rec(field) = sb.toString; field = null }
        case _ =>
      }
    }
    reader.close()
    out.iterator
  }

  /** Permissive parse: malformed documents yield no records instead of
    * failing the task (the reference's monthly drops occasionally ship
    * truncated files; a 100 TB backfill must not die on one). Pair with
    * `malformedCount` to monitor. */
  def parseRecordsPermissive(xml: String, recordTag: String): Iterator[Map[String, String]] =
    try parseRecords(xml, recordTag).toIndexedSeq.iterator
    catch { case _: Exception => Iterator.empty }

  /** Parse a Dataset of XML document strings into a DataFrame with the
    * given string fields (cast downstream with Conform). Runs per
    * partition on executors. `permissive = true` skips malformed
    * documents instead of failing. */
  def read(docs: Dataset[String], recordTag: String, fields: Seq[String],
           permissive: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(fields.map(f => StructField(f, StringType, nullable = true)))
    val parse: String => Iterator[Map[String, String]] =
      if (permissive) parseRecordsPermissive(_, recordTag) else parseRecords(_, recordTag)
    val rows = docs.rdd.mapPartitions(_.flatMap(parse)
      .map(m => Row.fromSeq(fields.map(m.get(_).orNull))))
    spark.createDataFrame(rows, schema)
  }

  /** Count malformed documents in a collection (monitoring side of the
    * permissive path). */
  def malformedCount(docs: Dataset[String], recordTag: String): Long = {
    import docs.sparkSession.implicits._
    docs.map { xml =>
      try { parseRecords(xml, recordTag).foreach(_ => ()); 0L }
      catch { case _: Exception => 1L }
    }.reduce(_ + _)
  }

  /** Render rows as a flat-record XML document (used by tests and the
    * round-trip oracle query; escaping covers the XML special chars). */
  def renderXml(recordTag: String, rows: Iterator[Seq[(String, String)]]): String = {
    def esc(s: String): String = s
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val sb = new StringBuilder("<root>")
    rows.foreach { fields =>
      sb.append(s"<$recordTag>")
      fields.foreach { case (k, v) =>
        sb.append(s"<$k>").append(if (v == null) "" else esc(v)).append(s"</$k>")
      }
      sb.append(s"</$recordTag>")
    }
    sb.append("</root>").toString
  }
}
