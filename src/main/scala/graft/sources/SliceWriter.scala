package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.SliceResult

/** Slice sink: partitioned parquet segments + a JSON manifest — the
  * Spark-native analog of the reference's ZIP-of-segments output
  * (slice_db/slice.py:69-104, manifest format slice_db/formats/
  * manifest.py).
  *
  * Rows stream from executors straight to parquet (never through the
  * driver); only the manifest — per-table counts and max keys, a few
  * rows of metadata — is collected. At 100 TB each table lands as many
  * parquet files sized by the upstream partitioning.
  */
object SliceWriter {

  /** Per-table segments plus the manifest. The table writes and the
    * manifest's collect run concurrently on [[graft.Par]] (up to the
    * context's `defaultParallelism` at once): each job is mostly
    * driver-side planning and commit, which a sequential loop would
    * serialize. `manifest.json` lands only after every write succeeded,
    * so a failed dump never carries one.
    *
    * @param scrub per-table output transform (e.g. a
    *   [[graft.functions.ScrubConfig]]) applied while dumping — the
    *   reference scrubs during COPY-out, never in place.
    * @param format segment format (parquet | orc | csv | json) */
  def write(result: SliceResult, outDir: String,
      scrub: (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
        (_, df) => df,
      format: String = "parquet"): Unit = {
    val rows = result.allRows
    // None = the manifest task, Some(t) = table t's segments
    val json = graft.Par.each(None +: rows.keys.toSeq.sorted.map(Some(_))) {
      case Some(t) => Formats.write(scrub(t, rows(t)), s"$outDir/data/$t", format); ""
      case None    => manifestJson(result)
    }.head
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/manifest.json"), json)
  }

  private def manifestJson(result: SliceResult): String = {
    val counts = result.manifest.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val seqs = result.sequences.collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val tables = counts.keys.toSeq.sorted.map { t =>
      val lv = seqs.get(t).flatMap(Option(_)).map(_.toString).getOrElse("null")
      s"""    {"id": "$t", "row_count": ${counts(t)}, "last_value": $lv}"""
    }
    tables.mkString("{\n  \"tables\": [\n", ",\n", "\n  ]\n}\n")
  }

  /** Bucketed-layout slice dump — the WAREHOUSE-landing format next to
    * `write`'s archive format: each table lands as a managed bucketed
    * table (`bucketBy(n, key).sortBy(key)`) in `database`, so a
    * restored slice is immediately co-located — repeated fact-fact
    * joins on the bucket key plan with NO shuffle exchange (the
    * DEPLOY.md "Joins" recipe; BucketedJoinSpec holds the generic plan
    * shape, SliceBucketedSpec holds it for a real slice dump including
    * a bucket-key override).
    *
    * Bucket keys default to each table's declared slice key; override
    * per table to co-locate a child on its JOIN key instead (e.g.
    * lineitem bucketed by l_orderkey to join orders shuffle-free).
    * Scrubs run while dumping, before bucketing, so both sides of a
    * later join hash the same (scrubbed) values. `numBuckets` is a
    * layout decision: size it so bucket × table ≈ executor-memory-sized
    * files at the target scale, and keep it IDENTICAL across tables
    * meant to join (Spark only elides the exchange when bucket counts
    * match). */
  def writeBucketed(result: SliceResult, database: String, numBuckets: Int,
      bucketKeys: Map[String, Seq[String]] = Map.empty,
      scrub: (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
        (_, df) => df): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")
    result.allRows.foreach { case (table, df) =>
      val keys = bucketKeys.getOrElse(table, result.keyColumns(table))
      scrub(table, df).write.mode("overwrite").format("parquet")
        .bucketBy(numBuckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .saveAsTable(s"$database.$table")
    }
  }

  /** Schema sections alongside the data (reference: pg_dump pre/post
    * sections embedded in the archive, slice_db/dump.py:112,174) so the
    * slice restores into an EMPTY database. Pure metadata — DataFrame
    * schemas plus the FK graph, no jobs.
    *
    * @param scrub the transform the data was dumped with: column types
    *   come from the SCRUBBED schema, because some scrubs change them
    *   (`null` → string, `date_year` on a timestamp → date) and the restored tables
    *   must accept the dumped values. Schema-only; launches no jobs. */
  def writeSchema(result: SliceResult, graph: graft.plans.SchemaGraph,
      outDir: String,
      scrub: (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
        (_, df) => df): Unit =
    DdlWriter.write(graph, t => scrub(t, result.rows(t)).schema, result.keys.keySet, outDir)

  /** Package an already-written slice directory into a single ZIP —
    * literal parity with the reference's ZIP-of-segments archive
    * (slice_db/slice.py:69-104). The data was written by executors;
    * zipping is a driver-side export/packaging step over the finished
    * files (the reference's writer is single-process here too). Entry
    * names are relative to `sliceDir` with stable ordering. */
  def zip(sliceDir: String, zipPath: String): Unit = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(sliceDir)
    val out = new ZipOutputStream(Files.newOutputStream(Paths.get(zipPath)))
    try {
      val files = Files.walk(root).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => (root.relativize(p).toString, p))
        // skip spark's _SUCCESS markers and .crc sidecars
        .filterNot { case (_, p) =>
          val f = p.getFileName.toString
          f.startsWith("_") || f.startsWith(".")
        }
        .toSeq.sortBy(_._1)
      files.foreach { case (name, p) =>
        out.putNextEntry(new ZipEntry(name))
        Files.copy(p, out)
        out.closeEntry()
      }
    } finally out.close()
  }

  /** Unpack a slice ZIP back into a directory — the read half of the
    * archive round-trip (the reference restores from its own ZIP,
    * slice_db/slice.py + restore.py:43). Driver-side like `zip`; the
    * heavy data is read afterwards by executors from the extracted
    * parquet segments. Entry paths are validated against zip-slip. */
  def unzip(zipPath: String, destDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val dest = Paths.get(destDir).normalize()
    Files.createDirectories(dest)
    val zf = new java.util.zip.ZipFile(zipPath)
    try zf.entries().asScala.filterNot(_.isDirectory).foreach { e =>
      val target = dest.resolve(e.getName).normalize()
      require(target.startsWith(dest), s"zip entry escapes archive root: ${e.getName}")
      Files.createDirectories(target.getParent)
      val in = zf.getInputStream(e)
      try Files.copy(in, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
    } finally zf.close()
  }
}
