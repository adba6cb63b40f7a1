package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}

/** Deletion-vector sidecar access (r16 optimization round, guide
  * §1.2/§5): the sidecar schema is fixed at write time —
  * `(file_path STRING, row_index BIGINT)` — so reads PIN it instead of
  * paying parquet schema inference per read, and the KB–MB-scale
  * metadata questions the engine asks of sidecars ("which files carry
  * masks", "how many marks per file") answer on the driver via
  * parquet-hadoop instead of running a read+shuffle+collect Spark job
  * per question. Size-gated and parameterised
  * (`spark.graft.dv.driverReadMaxBytes`, default 64 MB): a 100 TB
  * table's DV debt can be GBs, and above the gate every helper keeps
  * the distributed path. The driver-side answers are exactly the
  * distinct/count the Spark job computed — callers already held the
  * DISTINCT set on the driver either way.
  *
  * The bloom sidecar (`(file_path STRING, bloom BINARY)`, written by
  * `GraftTable.computeBloomFilter`) is the gate's second user: its
  * point/IN probe streams the candidates' rows here under the same
  * gate and keeps the distributed probe above it.
  */
object DvSidecar {
  /** The sidecar schema as written by every DV producer (MoR
    * delete/update/merge, Iceberg position-delete attach).
    */
  val Schema: StructType = StructType(Seq(
    StructField("file_path", StringType),
    StructField("row_index", LongType)))

  /** The bloom sidecar schema as `GraftTable.computeBloomFilter`
    * writes it; distributed probes read with it pinned.
    */
  val BloomSchema: StructType = StructType(Seq(
    StructField("file_path", StringType),
    StructField("bloom", BinaryType)))

  private val DefaultGateBytes = 64L * 1024 * 1024

  private def gateBytes(spark: SparkSession): Long =
    scala.util.Try(spark.conf.get(
      "spark.graft.dv.driverReadMaxBytes",
      DefaultGateBytes.toString).toLong).getOrElse(DefaultGateBytes)

  /** Distributed read with the pinned schema — no footer inference,
    * no schema-merge job, byte-identical rows.
    */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(Schema).parquet(paths: _*)

  /** Expand sidecar paths (Spark writes each sidecar as a DIRECTORY of
    * part files) to the concrete parquet parts; None when anything is
    * neither a parquet file nor a directory holding them.
    */
  private def expandParts(paths: Seq[String]): Option[Seq[java.nio.file.Path]] = {
    import scala.jdk.CollectionConverters._
    val out = Seq.newBuilder[java.nio.file.Path]
    val ok = paths.forall { p =>
      val f = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isRegularFile(f)) { out += f; true }
      else if (java.nio.file.Files.isDirectory(f)) {
        val w = java.nio.file.Files.walk(f)
        try w.iterator().asScala.foreach { c =>
          val n = c.getFileName.toString
          if (java.nio.file.Files.isRegularFile(c) &&
              n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))
            out += c
        } finally w.close()
        true
      } else false
    }
    if (ok) Some(out.result()) else None
  }

  private def underGate(spark: SparkSession,
      parts: Seq[java.nio.file.Path]): Boolean = {
    val gate = gateBytes(spark)
    var total = 0L
    parts.forall { f =>
      total += java.nio.file.Files.size(f); total <= gate
    }
  }

  /** The sidecars' parquet parts when their total size sits under the
    * gate — the one driver-read decision every sidecar helper makes;
    * None sends the caller down its distributed path.
    */
  private[lake] def partsUnderGate(spark: SparkSession,
      paths: Seq[String]): Option[Seq[java.nio.file.Path]] =
    expandParts(paths).filter(underGate(spark, _))

  /** Projection of `fields` drawn from the FILE's own schema (so the
    * declared repetition — optional vs required — always matches;
    * a fixed requested schema trips parquet's checkContains). Throws
    * when a field is absent; pairsUnderGate's catch falls back.
    */
  private def projectionFor(p: java.nio.file.Path,
      fields: Seq[String]): org.apache.parquet.schema.MessageType = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toString), Stats.hadoopConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val fileSchema = try r.getFooter.getFileMetaData.getSchema finally r.close()
    new org.apache.parquet.schema.MessageType("dv",
      fields.map(n =>
        fileSchema.getType(fileSchema.getFieldIndex(n))): _*)
  }

  /** Stream the rows of the sidecar parts, projected to `fields`,
    * through `f` driver-side (pages of other columns are never read).
    * `check` sees each part's projection before its rows are read.
    */
  private def foreachRow(parts: Seq[java.nio.file.Path], fields: Seq[String],
      check: org.apache.parquet.schema.MessageType => Unit = _ => ())(
      f: org.apache.parquet.example.data.Group => Unit): Unit =
    parts.foreach { p =>
      val proj = projectionFor(p, fields)
      check(proj)
      val conf = new org.apache.hadoop.conf.Configuration(Stats.hadoopConf)
      conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
        proj.toString)
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(p.toString))
        .withConf(conf)
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          if (fields.forall(g.getFieldRepetitionCount(_) > 0)) f(g)
          g = reader.read()
        }
      } finally reader.close()
    }

  /** Stream `file_path` cells of the sidecar parts through `f`. */
  private def foreachFilePath(parts: Seq[java.nio.file.Path])(
      f: String => Unit): Unit =
    foreachRow(parts, Seq("file_path"))(g => f(g.getString("file_path", 0)))

  /** Stream the `(file_path, bloom)` rows of bloom sidecar parts whose
    * path `keep` accepts through `f`. The path is checked first, so a
    * rejected row's bitset is never handed out for deserialization.
    */
  private[lake] def foreachBloom(parts: Seq[java.nio.file.Path],
      keep: String => Boolean)(f: (String, Array[Byte]) => Unit): Unit =
    foreachRow(parts, Seq("file_path", "bloom")) { g =>
      val p = g.getString("file_path", 0)
      if (keep(p)) f(p, g.getBinary("bloom", 0).getBytes)
    }

  /** Write (file_path, row_index) pairs as ONE snappy parquet part +
    * _SUCCESS at `dir` — same shape the Spark sidecar write produces.
    */
  def writeDriverSide(dir: java.nio.file.Path,
      pairs: Seq[(String, Long)]): Unit = {
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(dir)
      val all = try w.iterator().asScala.toSeq finally w.close()
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
    java.nio.file.Files.createDirectories(dir)
    val part = dir.resolve("part-00000-driver.snappy.parquet")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message dv { optional binary file_path (UTF8); optional int64 row_index; }")
    val conf = new org.apache.hadoop.conf.Configuration(Stats.hadoopConf)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toString), conf))
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory =
        new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      pairs.foreach { case (fp, ri) =>
        val g = factory.newGroup()
        g.append("file_path", fp)
        g.append("row_index", ri)
        writer.write(g)
      }
    } finally writer.close()
    java.nio.file.Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
  }

  /** Distinct masked file paths across the sidecars. Driver-side under
    * the gate; identical Spark job above it.
    */
  def distinctFilePaths(spark: SparkSession, paths: Seq[String]): Seq[String] =
    if (paths.isEmpty) Nil
    else partsUnderGate(spark, paths) match {
      case Some(parts) =>
        val set = new scala.collection.mutable.LinkedHashSet[String]
        foreachFilePath(parts)(set += _)
        set.toSeq
      case None => read(spark, paths).select("file_path").distinct()
        .collect().map(_.getString(0)).toIndexedSeq
    }

  /** Every (file_path, row_index) pair across the sidecars, driver-side
    * — Some only when the sidecars sit under the gate (callers keep
    * their distributed path otherwise).
    */
  def pairsUnderGate(spark: SparkSession, paths: Seq[String],
      posField: String = "row_index"): Option[Seq[(String, Long)]] =
    if (paths.isEmpty) Some(Nil)
    else partsUnderGate(spark, paths).flatMap { parts =>
      try {
        val out = Seq.newBuilder[(String, Long)]
        // only the expected physical shapes take the driver path —
        // anything else (a foreign writer's int32 pos) falls back
        foreachRow(parts, Seq("file_path", posField), proj =>
          require(proj.getType(proj.getFieldIndex(posField)).asPrimitiveType()
            .getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64,
            s"$posField is not int64")) { g =>
          out += (g.getString("file_path", 0) -> g.getLong(posField, 0))
        }
        Some(out.result())
      } catch {
        // e.g. a foreign writer's int32 position column: let the
        // cast-tolerant distributed path serve it
        case scala.util.control.NonFatal(_) => None
      }
    }

  /** Distinct (masked file path, sidecar part path) pairs — the
    * DV-coverage bridge exports fingerprint on. Driver-side under the
    * gate (each part trivially knows its own path); identical
    * `_metadata.file_path` Spark job above it.
    */
  def refsBySidecar(spark: SparkSession,
      paths: Seq[String]): Seq[(String, String)] = {
    if (paths.isEmpty) return Nil
    partsUnderGate(spark, paths) match {
      case Some(parts) =>
        val set = new scala.collection.mutable.LinkedHashSet[(String, String)]
        parts.foreach { p =>
          // same URI form `_metadata.file_path` yields, so coverage
          // fingerprints stay stable across the gate boundary
          val uri = IcebergExport.fileUri(
            p.toAbsolutePath.normalize.toString)
          foreachFilePath(Seq(p))(fp => set += (fp -> uri))
        }
        return set.toSeq
      case None => ()
    }
    {
      import org.apache.spark.sql.functions.col
      read(spark, paths)
        .select(col("file_path"), col("_metadata.file_path").as("__sidecar"))
        .distinct().collect()
        .map(r => (r.getString(0), r.getString(1))).toIndexedSeq
    }
  }

  /** Mark count per masked file path across the sidecars. */
  def countsByFile(spark: SparkSession, paths: Seq[String]): Seq[(String, Long)] =
    if (paths.isEmpty) Nil
    else partsUnderGate(spark, paths) match {
      case Some(parts) =>
        val m = new scala.collection.mutable.LinkedHashMap[String, Long]
        foreachFilePath(parts)(fp => m.update(fp, m.getOrElse(fp, 0L) + 1L))
        m.toSeq
      case None =>
        import org.apache.spark.sql.functions._
        read(spark, paths).groupBy("file_path").agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toIndexedSeq
    }
}
