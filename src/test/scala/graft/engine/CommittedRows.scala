package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Dataset, SparkSession}

/** A checkpoint's committed rows of one generation, each kind read with its
  * pinned schema, as the engine reads them; a kind that wrote no rows has no
  * directory and reads as no rows. */
object CommittedRows {
  import CrawlEngine.{extractedRowEnc, frontierRowFEnc}

  private def read[T](spark: SparkSession, path: String)(implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] =
    if (Files.exists(Paths.get(path))) spark.read.schema(enc.schema).parquet(path).as[T]
    else spark.emptyDataset[T]

  /** The pending frontier at the start of generation `gen`. */
  def frontier(spark: SparkSession, ck: Checkpoint, gen: Int): Seq[CrawlEngine.FrontierRowF] =
    read[CrawlEngine.FrontierRowF](spark, ck.frontierPath(gen)).collect().toSeq

  /** The results generation `gen` fetched. */
  def results(spark: SparkSession, ck: Checkpoint, gen: Int): Seq[CrawlEngine.ExtractedRow] =
    read[CrawlEngine.ExtractedRow](spark, ck.resultsPath(gen)).collect().toSeq
}
