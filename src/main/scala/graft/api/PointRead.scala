package graft.api

import java.nio.charset.StandardCharsets.UTF_8
import java.util.stream.IntStream

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.{ColumnDescriptor, ColumnReader}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.filter2.columnindex.RowRanges
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{MessageType, PrimitiveType, Type}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{BinaryType, DataType, Metadata, StringType, StructField, StructType}

/**
 * The driver-side point read behind [[Graft.scrape]] over a plain parquet
 * scan: a `pages` frame whose optimized plan is the bare relation of
 * `spark.read.parquet` (parquet format, no partition or bucket columns,
 * top-level `url: string` in the default UTF8_BINARY collation and
 * `html: binary`). It runs on the calling thread and starts no Spark job:
 *
 *  1. for each file of the relation's cached listing and each row group,
 *     read only the url column chunk and note the rows equal to either key;
 *  2. for a single match, find the html page holding that row in the
 *     column's offset index, read that page alone and skip to the row.
 *
 * Spark's reader answers the same lookup by decompressing the whole html
 * column of every file it scans: unique urls leave the url column without
 * a dictionary to filter on, and an unsorted corpus gives no row group a
 * url range that rules a url out. A hit opens the file holding it twice
 * (once per step); a file's footer is small next to an html page.
 */
private[api] object PointRead {

  private val Schema = StructType(Seq(StructField("url", StringType), StructField("html", BinaryType)))

  /** `(file, row group, row, stored url)` of a row whose url matched. */
  private type Hit = (FileStatusWithMetadata, Int, Long, String)

  /** The `(url, html)` row whose url equals `norm` or `url`: `Some(None)`
    * when no row matches, `Some(Some(row))` when exactly one does (its html
    * may be null), and `None` when this read cannot answer: `pages` is not
    * a plain parquet scan, a file lacks a flat binary `url` or `html`
    * column, or two or more rows match (which one comes first is the
    * order of Spark's scan). */
  def lookup(pages: DataFrame, norm: String, url: String): Option[Option[Row]] =
    plainScan(pages).flatMap { rel =>
      val conf = rel.getHadoopConf(rel.sparkSession, rel.options)
      val keys = Seq(norm, url).distinct.map(k => Binary.fromConstantByteArray(k.getBytes(UTF_8)))
      val filter = FilterCompat.get(
        keys.map(k => FilterApi.eq(FilterApi.binaryColumn("url"), k): FilterPredicate).reduce(FilterApi.or))
      @tailrec def scan(files: List[FileStatusWithMetadata], acc: Vector[Hit]): Option[Vector[Hit]] =
        files match {
          case Nil => Some(acc)
          case f :: rest => urlHits(conf, f, filter, keys) match {
            case Some(h) if acc.length + h.length < 2 => scan(rest, acc ++ h)
            case _ => None
          }
        }
      scan(rel.location.listFiles(Nil, Nil).flatMap(_.files).toList, Vector.empty)
        .map(_.headOption.map { case (f, group, row, stored) =>
          new GenericRowWithSchema(Array(stored, htmlAt(conf, f, filter, group, row)), Schema)
        })
    }

  private def plainScan(pages: DataFrame): Option[HadoopFsRelation] =
    pages.queryExecution.optimizedPlan match {
      case LogicalRelation(rel: HadoopFsRelation, _, _, false, _)
          if rel.fileFormat.getClass == classOf[ParquetFileFormat] &&
            rel.partitionSchema.isEmpty && rel.bucketSpec.isEmpty &&
            field(rel.dataSchema, "url", StringType) && field(rel.dataSchema, "html", BinaryType) &&
            !skipsBadFiles(rel) => Some(rel)
      case _ => None
    }

  /** Exactly one field matches `name` case-insensitively, and it is `name`
    * itself, of type `t` (a collated string is a different type), with no
    * metadata that could redirect the column match (a parquet field id). */
  private def field(schema: StructType, name: String, t: DataType): Boolean =
    schema.fields.filter(_.name.equalsIgnoreCase(name)) match {
      case Array(f) => f.name == name && f.dataType == t && f.metadata == Metadata.empty
      case _ => false
    }

  /** Whether the scan would skip a file it cannot read (then its answer,
    * not this read's error, is the one the caller gets). */
  private def skipsBadFiles(rel: HadoopFsRelation): Boolean = {
    val sql = rel.getSqlConf(rel.sparkSession)
    val opts = CaseInsensitiveMap(rel.options)
    def flag(key: String, default: Boolean) = opts.get(key).map(_.toBoolean).getOrElse(default)
    flag(FileSourceOptions.IGNORE_CORRUPT_FILES, sql.ignoreCorruptFiles) ||
      flag(FileSourceOptions.IGNORE_MISSING_FILES, sql.ignoreMissingFiles)
  }

  /** A reader of `f` whose record filter is the lookup `filter`: it drops
    * the row groups whose statistics or dictionary rule both keys out (so
    * two readers with the same filter list the same row groups), and it is
    * what makes `readFilteredRowGroup` honour the row ranges it is given.
    * Vectored IO is off: for the one range per step a point read takes,
    * the local file system's asynchronous channel costs more than the read
    * (a hit on the `api-mix` corpus read 6.7 against 12 ms, 4 cores). */
  private def open(conf: Configuration, f: FileStatusWithMetadata, filter: FilterCompat.Filter): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(f.fileStatus, conf),
      HadoopReadOptions.builder(conf, f.getPath).withRecordFilter(filter).withUseHadoopVectoredIo(false).build())

  /** The flat, binary, top-level column `name` of a file, if it has one. */
  private def column(schema: MessageType, name: String): Option[ColumnDescriptor] =
    schema.getFields.asScala.filter(_.getName.equalsIgnoreCase(name)).toSeq match {
      case Seq(t) if t.getName == name && t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED) &&
          t.asPrimitiveType.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.BINARY =>
        Some(schema.getColumnDescription(Array(name)))
      case _ => None
    }

  /** The [[Hit]]s of file `f`, or None when it has no flat binary url
    * and html columns. Only the url column chunks are read. */
  private def urlHits(conf: Configuration, f: FileStatusWithMetadata, filter: FilterCompat.Filter,
      keys: Seq[Binary]): Option[Vector[Hit]] = {
    val reader = open(conf, f, filter)
    try {
      val schema = reader.getFileMetaData.getSchema
      for (url <- column(schema, "url"); _ <- column(schema, "html")) yield {
        reader.setRequestedSchema(List(url).asJava)
        val hits = Vector.newBuilder[Hit]
        for (group <- 0 until reader.getRowGroups.size) {
          val store = reader.readRowGroup(group)
          val values = columnReader(store, schema, url, reader)
          var row = 0L
          while (row < store.getRowCount) {
            if (values.getCurrentDefinitionLevel == url.getMaxDefinitionLevel) {
              val v = values.getBinary
              if (keys.contains(v)) hits += ((f, group, row, v.toStringUsingUTF8))
            }
            values.consume()
            row += 1
          }
        }
        hits.result()
      }
    } finally reader.close()
  }

  /** The html at `row` of row group `group`, or null: through the column's
    * offset index only the page holding the row is read and decompressed
    * (a file written without one reads the whole chunk). */
  private def htmlAt(conf: Configuration, f: FileStatusWithMetadata, filter: FilterCompat.Filter,
      group: Int, row: Long): Array[Byte] = {
    val reader = open(conf, f, filter)
    try {
      val schema = reader.getFileMetaData.getSchema
      val html = column(schema, "html").get
      reader.setRequestedSchema(List(html).asJava)
      val block = reader.getRowGroups.get(group)
      val index = reader.readOffsetIndex(
        block.getColumns.asScala.find(_.getPath == ColumnPath.get(html.getPath: _*)).get)
      val (store, first) =
        if (index == null) (reader.readRowGroup(group), 0L)
        else {
          val page = (0 until index.getPageCount)
            .find(p => index.getLastRowIndex(p, block.getRowCount) >= row).get
          (reader.readFilteredRowGroup(group,
            RowRanges.create(block.getRowCount, IntStream.of(page).iterator(), index)),
            index.getFirstRowIndex(page))
        }
      val values = columnReader(store, schema, html, reader)
      def defined = values.getCurrentDefinitionLevel == html.getMaxDefinitionLevel
      var at = first
      while (at < row) {
        if (defined) values.skip() // a null has no value to skip; consume() skips none
        values.consume()
        at += 1
      }
      if (defined) values.getBinary.getBytes else null
    } finally reader.close()
  }

  private def columnReader(store: PageReadStore, schema: MessageType, c: ColumnDescriptor,
      reader: ParquetFileReader): ColumnReader =
    new ColumnReadStoreImpl(store, NoConverter, schema, reader.getFileMetaData.getCreatedBy).getColumnReader(c)

  /** Values are read with `getBinary`, never pushed into a converter. */
  private object NoConverter extends GroupConverter {
    private val leaf = new PrimitiveConverter {}
    def getConverter(fieldIndex: Int): Converter = leaf
    def start(): Unit = ()
    def end(): Unit = ()
  }
}
