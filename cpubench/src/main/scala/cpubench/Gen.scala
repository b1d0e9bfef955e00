package cpubench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import scala.util.Random
import graft.pipeline.{GraftConfig, Naming}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The program under test sees only what these
  * write: a watch tree of `.d` runs and the state tables of a deployment
  * that has already run for a while (pipeline workload), and parquet tables
  * shaped like the sf0.01 fixtures (registry workloads).
  */
object Gen {

  // ------------------------------------------------------------ watch tree

  /** One run directory: `plate/base.d` holding `FilesPerRun` files of
    * `fileBytes`, plus a `FAIL` marker the stub converter checks when the
    * run is planned to fail.
    */
  final case class RunSpec(plate: String, base: String, fails: Boolean, fileBytes: Int) {
    def bytes: Long = FilesPerRun.toLong * fileBytes + (if (fails) FailMarker.length else 0)
  }

  val FilesPerRun = 4
  val FailMarker = "planned converter failure\n"

  /** Bytes of one payload file. The first half is random (incompressible),
    * the second half repeats a short record, so gzip saves about half.
    */
  def payload(rnd: Random, bytes: Int): Array[Byte] = {
    val out = new Array[Byte](bytes)
    val half = bytes / 2
    val rand = new Array[Byte](half)
    rnd.nextBytes(rand)
    System.arraycopy(rand, 0, out, 0, half)
    val rec = "scan=000123 mz=445.1200 intensity=0000017\n".getBytes("US-ASCII")
    var i = half
    while (i < bytes) { out(i) = rec((i - half) % rec.length); i += 1 }
    out
  }

  def runDir(watch: Path, r: RunSpec): Path = watch.resolve(r.plate).resolve(r.base + ".d")

  /** Write the runs under `watch`, with their files. */
  def writeRuns(watch: Path, runs: Seq[RunSpec], seed: Long): Unit = {
    val rnd = new Random(seed)
    runs.foreach { r =>
      val d = Files.createDirectories(runDir(watch, r))
      (0 until FilesPerRun).foreach { i =>
        Files.write(d.resolve(f"chunk$i%02d.raw"), payload(rnd, r.fileBytes))
      }
      if (r.fails) Files.writeString(d.resolve("FAIL"), FailMarker)
    }
  }

  /** Size of the `.tar.gz` the archive sink writes for a run of `fileBytes`
    * files: the same entries (directory, then files) and compression, built
    * in memory from a payload like the run's.
    */
  def archiveBytes(fileBytes: Int): Long = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    val buf = new java.io.ByteArrayOutputStream()
    val out = new TarArchiveOutputStream(new java.util.zip.GZIPOutputStream(buf))
    val rnd = new Random(fileBytes.toLong)
    out.putArchiveEntry(new TarArchiveEntry("run.d/"))
    out.closeArchiveEntry()
    (0 until FilesPerRun).foreach { i =>
      val bytes = payload(rnd, fileBytes)
      val e = new TarArchiveEntry(f"run.d/chunk$i%02d.raw")
      e.setSize(bytes.length.toLong)
      out.putArchiveEntry(e)
      out.write(bytes)
      out.closeArchiveEntry()
    }
    out.close()
    buf.size().toLong
  }

  // ------------------------------------------------- long-lived state tables

  private val convertedSchema = StructType(Seq(
    StructField("base", StringType), StructField("plateRel", StringType),
    StructField("outfile", StringType), StructField("ts", TimestampType)))
  private val attemptsSchema = StructType(Seq(
    StructField("base", StringType), StructField("plateRel", StringType),
    StructField("attempts", IntegerType)))
  private val quietSchema = StructType(Seq(
    StructField("path", StringType), StructField("lastSize", LongType, nullable = false),
    StructField("stableSince", LongType, nullable = false)))
  private val historySchema = StructType(Seq(
    StructField("base", StringType), StructField("plateRel", StringType),
    StructField("in", StringType), StructField("outfile", StringType),
    StructField("state", StringType), StructField("message", StringType),
    StructField("startTs", TimestampType), StructField("endTs", TimestampType),
    StructField("archived", BooleanType, nullable = false),
    StructField("origBytes", LongType, nullable = false),
    StructField("archiveBytes", LongType, nullable = false),
    StructField("cycleTs", TimestampType, nullable = false)))

  /** Write each non-empty group of rows as one snappy parquet file in
    * `dir` (one file with no rows when all are empty), named as Spark's
    * writer names them and with its schema in the footer, so the engine
    * reads them as its own. The files are written directly, not by Spark
    * jobs through Hadoop's file system, to keep set-up short; so they come
    * without Hadoop's `.crc` side files, which readers do not need.
    */
  private def writeFiles(spark: SparkSession, groups: Seq[Seq[Row]], schema: StructType,
      dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val fields: Seq[Type] = schema.fields.toSeq.map { f =>
      val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      f.dataType match {
        case StringType => Types.primitive(PrimitiveTypeName.BINARY, rep)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case TimestampType => Types.primitive(PrimitiveTypeName.INT64, rep)
          .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
          .named(f.name)
        case LongType => Types.primitive(PrimitiveTypeName.INT64, rep).named(f.name)
        case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep).named(f.name)
        case BooleanType => Types.primitive(PrimitiveTypeName.BOOLEAN, rep).named(f.name)
        case t => sys.error(s"no parquet mapping for $t")
      }
    }
    val msg = new MessageType("spark_schema", fields.asJava)
    val factory = new SimpleGroupFactory(msg)
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = Map("org.apache.spark.sql.parquet.row.metadata" -> schema.json).asJava
    Files.createDirectories(Path.of(dir))
    val nonEmpty = groups.filter(_.nonEmpty)
    (if (nonEmpty.isEmpty) Seq(Nil) else nonEmpty).foreach { rows =>
      val file = Path.of(dir, s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet")
      val w = ExampleParquetWriter.builder(new org.apache.parquet.io.LocalOutputFile(file))
        .withType(msg)
        .withConf(conf).withCompressionCodec(CompressionCodecName.SNAPPY)
        .withExtraMetaData(meta).build()
      try rows.foreach { r =>
        val g = factory.newGroup()
        schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
          val name = schema.fields(i).name
          r.get(i) match {
            case v: String => g.append(name, v)
            case v: Timestamp => g.append(name, v.getTime * 1000L)
            case v: Long => g.append(name, v)
            case v: Int => g.append(name, v)
            case v: Boolean => g.append(name, v)
          }
        }
        w.write(g)
      } finally w.close()
    }
    Files.write(Path.of(dir, "_SUCCESS"), Array.emptyByteArray)
  }

  /** Write the watch tree and state tables that the cycles `model` has
    * replayed leave behind, as of wall-clock instant `anchorMs` for the end
    * of the last of them; cycle i ran at synthetic time `now(i)`.
    *
    * One cycle appends one file to `converted` and one to `history` (its
    * statuses form a single partition), rewrites `attempts` when a run
    * failed and always rewrites `quiet`; that is what real cycles leave.
    * Runs already converted or skipped are listed by discovery but never
    * read again, so their directories are written empty, and their outputs
    * and archives, which no later cycle reads under the `skip` policy, are
    * not written. Conversions end 300 ms apart in path order within a
    * cycle and take 20 ms; cycles end 300 s apart.
    */
  def state(spark: SparkSession, cfg: GraftConfig, model: PipelineModel, anchorMs: Long,
      now: Int => java.time.Instant): Unit = {
    val cycles = model.logs.toSeq
    val watch = Path.of(cfg.watchDir)
    val archive = scala.collection.mutable.Map.empty[Int, Long]
    def endMs(c: CycleLog, k: Int): Long =
      anchorMs - (cycles.last.index - c.index) * 300000L - (c.ready.size - 1 - k) * 300L
    val converted = cycles.map { c =>
      c.ready.zipWithIndex.collect { case ((r, true), k) =>
        Row(r.base, r.plate, outfile(r, cfg, now(c.index)), new Timestamp(endMs(c, k)))
      }
    }
    val history = cycles.map { c =>
      val cycleTs = new Timestamp(now(c.index).toEpochMilli)
      c.ready.zipWithIndex.map { case ((r, ok), k) =>
        val end = endMs(c, k)
        val arc = if (ok) archive.getOrElseUpdate(r.fileBytes, archiveBytes(r.fileBytes)) else 0L
        Row(r.base, r.plate, runDir(watch, r).toString, outfile(r, cfg, now(c.index)),
          if (ok) "success" else "failed", if (ok) "" else "rc=3: planned failure\n",
          new Timestamp(end - 20), new Timestamp(end), ok, if (ok) r.bytes else 0L, arc, cycleTs)
      }
    }
    model.priorArchiveBytes = history.flatten.map(_.getLong(10)).sum
    writeFiles(spark, converted, convertedSchema, s"${cfg.stateDir}/converted")
    writeFiles(spark, history, historySchema, s"${cfg.stateDir}/history")
    writeFiles(spark, Seq(model.attemptRows.map { case (r, n) => Row(r.base, r.plate, n) }),
      attemptsSchema, s"${cfg.stateDir}/attempts")
    writeFiles(spark, Seq(model.quietRows.map { case (r, since) =>
      Row(runDir(watch, r).toString, r.bytes, since)
    }), quietSchema, s"${cfg.stateDir}/quiet")

    val (open, done) = model.presentRuns.partition(model.isOpen)
    done.foreach(r => Files.createDirectories(runDir(watch, r)))
    writeRuns(watch, open, 0x57a7eL)
  }

  def outfile(r: RunSpec, cfg: GraftConfig, now: java.time.Instant): String =
    Naming.outfileName(Naming.outfileStem(r.base, now), cfg)

  // ------------------------------------------------------ registry tables

  /** Seed of the registry tables. Fixed, so the pinned result checksums
    * hold; the workload seed only permutes the row order.
    */
  val TableSeed = 42L

  /** Rows of the `documents` table, as in the sf0.01 test tables. */
  val Documents = 500

  private val langs = Seq("en", "es", "zh", "de", "fr")
  private val words = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  /** Write the tables the registry workload reads (only `documents`) as
    * `dir/<name>.parquet`, shaped like the sf0.01 test tables: 10-99 words
    * drawn uniformly from the same 30-word vocabulary, 40 % `en` and the
    * rest spread over four other languages, sources `src0`..`src19`. Then a
    * twentieth of the documents are overwritten by a near-copy of a random
    * other one (its text plus " dup"), so about 5 % of the documents have a
    * partner at 3-shingle Jaccard ~0.97 for the dedup rows to find.
    */
  def tables(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val r = new Random(TableSeed)
    val texts = Array.fill(Documents)(
      Seq.fill(10 + r.nextInt(90))(words(r.nextInt(words.size))).mkString(" "))
    (0 until Documents / 20).foreach { _ =>
      val (from, to) = (r.nextInt(texts.length), r.nextInt(texts.length))
      if (from != to) texts(to) = texts(from) + " dup"
    }
    texts.toSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, if (r.nextDouble() < 0.4) langs(0) else langs(1 + r.nextInt(4)),
        s"src${i % 20}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }
}
