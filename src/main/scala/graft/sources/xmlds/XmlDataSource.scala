package graft.sources.xmlds

import java.io.{Closeable, InputStreamReader, Reader}
import java.nio.charset.StandardCharsets
import java.util
import java.util.zip.ZipInputStream

import scala.collection.AbstractIterator
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, IsNotNull, IsNull}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.XmlRecordSource

/** DataSource V2 for flat-record XML files (the FIDE ratings-file shape,
  * the reference's `ingest_web_to_gcs.py:61-65`) and the zip archives
  * they ship in — graft's one XML file reader:
  * `spark.read.format("graft-xml").option("recordTag", "player").load(path)`.
  *
  * - A file whose name ends in `.zip` holds the documents of its
  *   non-directory entries whose names end in `.xml`, read as a stream
  *   over the archive (never held whole); any other file is one document.
  * - A declared schema (`.schema(...)`) skips inference; otherwise it
  *   samples the first file's first records, every field a string.
  * - One InputPartition per file: XML is not byte-splittable without
  *   sync markers; month-shard files (the reference layout) parallelise
  *   across files, which is the natural unit at scale.
  * - Column pruning is pushed into the reader
  *   (SupportsPushDownRequiredColumns): unprojected fields are never
  *   materialised into rows.
  * - Record-level filter pushdown (SupportsPushDownFilters): EqualTo /
  *   In / IsNull / IsNotNull predicates are evaluated on the parsed
  *   field map BEFORE a row is materialised, so non-matching records
  *   cost a parse but never an InternalRow or downstream CPU. Pushed
  *   filters are still re-evaluated by Spark (returned as residuals),
  *   so pushdown is purely an optimisation, never a correctness risk.
  * - Files are opened through the Hadoop FS API, so any object-store
  *   scheme Spark can reach works unchanged.
  */
class XmlDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-xml"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val tag = options.getOrDefault("recordTag", "record")
    val sample = options.getOrDefault("samplingRecords", "100").toInt
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val fields = scala.collection.mutable.LinkedHashSet.empty[String]
    XmlDataSource.files(conf, options.get("path")).headOption.foreach { p =>
      val docs = XmlDataSource.documents(p, conf)
      try docs.flatMap(XmlRecordSource.parseRecords(_, tag)).take(sample)
        .foreach(_.keys.foreach(fields += _))
      finally docs.close()
    }
    require(fields.nonEmpty, s"graft-xml: could not infer schema (tag=$tag)")
    StructType(fields.toSeq.map(StructField(_, StringType, nullable = true)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new XmlTable(schema, options, XmlDataSource.files(
      SparkSession.active.sessionState.newHadoopConf(), options.get("path")))
  }
}

object XmlDataSource {

  /** The files `path` names, sorted: the matches of a glob, each matched
    * directory replaced by the files directly in it. Each is one input
    * partition of the scan. */
  def files(conf: Configuration, path: String): Seq[Path] = {
    val glob = new Path(path)
    val fs = glob.getFileSystem(conf)
    val matched: Array[FileStatus] = Option(fs.globStatus(glob))
      .getOrElse(Array.empty)
    val all = matched.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile)
      else Array(st)
    }
    all.map(_.getPath).sortBy(_.toString).toSeq
  }

  /** The XML documents of the file `p`, each read as it is reached: the
    * `.xml` entries of a `.zip` archive, streamed from `fs.open`, or
    * the whole of any other file. A document must be read to its end
    * before the next is asked for; `close` releases the file. */
  def documents(p: Path, conf: Configuration): Iterator[Reader] with Closeable = {
    val in = p.getFileSystem(conf).open(p)
    val (stream, docs) =
      if (!p.getName.endsWith(".zip")) (in, Iterator.single(in))
      else {
        val zip = new ZipInputStream(in)
        (zip, Iterator.continually(zip.getNextEntry).takeWhile(_ != null)
          .filter(e => !e.isDirectory && e.getName.endsWith(".xml")).map(_ => zip))
      }
    new AbstractIterator[Reader] with Closeable {
      override def hasNext: Boolean = docs.hasNext
      override def next(): Reader = new InputStreamReader(docs.next(), StandardCharsets.UTF_8)
      override def close(): Unit = stream.close()
    }
  }
}

class XmlTable(schema: StructType, options: CaseInsensitiveStringMap, files: Seq[Path])
    extends Table with SupportsRead {
  override def name(): String = s"graft-xml(${options.get("path")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new XmlScanBuilder(schema, options.getOrDefault("recordTag", "record"), files)
}

class XmlScanBuilder(fullSchema: StructType, tag: String, files: Seq[Path])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(XmlFilterEval.supported)
    // Everything is returned as residual: Spark re-evaluates, the
    // source-side skip is purely an optimisation.
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new XmlScan(required, tag, files, pushed)
}

/** Record-level evaluation of the pushable subset of source filters
  * over the parsed (field -> value) map. All XML fields are strings. */
object XmlFilterEval {
  def supported(f: Filter): Boolean = f match {
    case EqualTo(_, v) => v == null || v.isInstanceOf[String]
    case In(_, vs) => vs != null && vs.forall(v => v == null || v.isInstanceOf[String])
    case IsNotNull(_) | IsNull(_) => true
    case _ => false
  }
  def eval(f: Filter, rec: Map[String, String]): Boolean = f match {
    case EqualTo(a, null) => false // SQL null semantics: never matches
    case EqualTo(a, v) => rec.get(a).contains(v.asInstanceOf[String])
    case In(a, vs) => rec.get(a).exists(x => vs.exists(v => v != null && v == x))
    case IsNotNull(a) => rec.contains(a)
    case IsNull(a) => !rec.contains(a)
    case _ => true
  }
}

class XmlScan(readSchema: StructType, tag: String, files: Seq[Path],
              pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = readSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-xml tag=$tag cols=${readSchema.fieldNames.mkString(",")} " +
      s"PushedFilters: [${pushed.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    files.map(p => XmlFilePartition(p.toString): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    // The conf that listed and inferred the files, so a filesystem
    // option set on the session (credentials, `fs.<scheme>.impl`)
    // reaches the reader too.
    new XmlReaderFactory(readSchema.fieldNames, tag,
      SparkSession.active.sessionState.newHadoopConf().iterator().asScala
        .map(e => e.getKey -> e.getValue).toMap, pushed)
}

case class XmlFilePartition(path: String) extends InputPartition

class XmlReaderFactory(fields: Array[String], tag: String, confMap: Map[String, String],
                       pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = new Path(partition.asInstanceOf[XmlFilePartition].path)
    // The shipped map already holds every entry of the session's conf,
    // so the default resources are not parsed again.
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    val docs = XmlDataSource.documents(p, conf)
    val it = docs.flatMap(XmlRecordSource.parseRecords(_, tag))
      .filter(rec => pushed.forall(XmlFilterEval.eval(_, rec)))
    new PartitionReader[InternalRow] {
      private var current: Map[String, String] = _
      override def next(): Boolean = { val h = it.hasNext; if (h) current = it.next(); h }
      override def get(): InternalRow =
        new GenericInternalRow(fields.map(f =>
          current.get(f).map(UTF8String.fromString).orNull: Any))
      override def close(): Unit = docs.close()
    }
  }
}
