package graft.io

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.schema.{Span, Violation}

/** A decoded MARC record row: spans in the engine encoding plus any
  * structural violations emitted at decode (SURVEY.md §1.5.7 policy —
  * undecodable bytes become `string_type` violations, never exceptions).
  * doc_id is the 001 control number when present, else file#index.
  */
final case class MarcDoc(doc_id: String, spans: Seq[Span],
    decode_violations: Seq[Violation])

/** Spark source for binary MARC (.mrc) files — the reference's documented
  * entry path (pymarc.MARCReader, /root/reference/README.md:24-28),
  * re-expressed as a distributed scan: `binaryFile` lists and reads files in
  * parallel (one task per file; MARC corpora shard into many files), then
  * [[MarcCodec.decodeStream]] frames and decodes records per file.
  *
  * Scale shape: no shuffle — list files, decode per partition, validate
  * downstream in the same stage. A 100 TB corpus is millions of .mrc shards;
  * parallelism = file count, the same contract as any file-based source.
  */
object MarcSource {

  /** Read the .mrc files of a directory into decoded docs; other files in it
    * are skipped.
    */
  def read(spark: SparkSession, dir: String): Dataset[MarcDoc] = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", "*.mrc").load(dir)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (file, bytes) => decodeFile(file, bytes) }
  }

  private[io] def decodeFile(file: String, bytes: Array[Byte]): Iterator[MarcDoc] =
    MarcCodec.decodeStream(bytes).zipWithIndex.map { case (rec, i) =>
      val controlNumber = rec.spans.collectFirst {
        case s if s.kind == "001" && s.text != null && s.text.nonEmpty => s.text
      }
      MarcDoc(controlNumber.getOrElse(s"$file#$i"), rec.spans, rec.decodeViolations)
    }
}
