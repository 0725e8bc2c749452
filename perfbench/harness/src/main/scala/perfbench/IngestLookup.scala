package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.{AvroIO, Compaction, ParquetIO, ParquetMeta, ZOrder}

/** Writes and reads through `graft.sources`: Avro→Parquet ingest, plain,
  * partitioned and bloom-filtered Parquet writes, a z-ordered write and a
  * compaction, then seeded point lookups (half on present keys, half on
  * absent ones) and footer reads against what the pass wrote. It is the
  * only workload where the write path and footer/bloom pruning carry the
  * time, so a lookup gain bought with more files or filters shows here as
  * a worse write rate or stored-bytes ratio. */
object IngestLookup extends Workload {
  val name = "ingest-lookup"
  val inputs: Seq[String] = Seq("orders")
  val discard = 1
  val timed = 3
  val lookupsPerPass = 8
  val bloomFiles = 8
  val zorderFiles = 4
  val fragmentFiles = 32
  val avroFiles = 4
  val compactTargetBytes: Long = 1L << 20

  /** (rows, sum and xor of a per-row hash): equal for two tables holding
    * the same multiset of rows, whatever the file layout or row order. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`").cast("string")): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), expr("bit_xor(h)")).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  private def sameRows(a: Array[Row], b: Array[Row]): Boolean =
    a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted)

  /** Σ data-file bytes and file count of a written table. */
  private def stored(r: Runner, dir: String): (Long, Int) = {
    val (n, bytes, _) = Compaction.dataFiles(r.spark, dir)
    (bytes, n)
  }

  def run(r: Runner): Map[String, Any] = {
    val s = r.spark
    val out = s"${r.workDir}/ingest"
    Workload.rmTree(out)
    val t0 = System.nanoTime()
    val srcPath = s"${r.dataDir}/orders.parquet"
    val orders = graft.Tables(s, r.dataDir, "orders")
    val avroSource = orders
      .withColumn("o_orderdate", unix_micros(col("o_orderdate").cast("timestamp")))
    val avroDir = s"${r.workDir}/orders_avro"
    if (!new File(avroDir, "_DONE").exists()) writeAvro(avroSource, avroDir)
    val fragments = s"${r.workDir}/orders_fragments"
    if (!new File(fragments, "_SUCCESS").exists())
      orders.repartition(fragmentFiles).write.mode("overwrite").parquet(fragments)
    // the inputs are fixed files, so their digests are computed once per
    // version of the source file
    val version = { val f = new File(srcPath); s"${f.lastModified}:${f.length}" }
    val cacheFile = s"${r.workDir}/source_digests.json"
    val cached = Workload.readJson(cacheFile).filter(_.get("version").contains(version))
    val Seq(ordersDigest, avroDigest) = cached
      .map(c => Seq(c("orders"), c("avro")))
      .getOrElse {
        val d = Seq(digest(orders), digest(avroSource))
        Workload.writeJson(cacheFile, Map("version" -> version, "orders" -> d(0), "avro" -> d(1)))
        d
      }
    val keys = orders.select("o_orderkey").collect().map(_.getLong(0)).distinct.sorted
    val sourceRows = ParquetMeta.rowCount(srcPath)
    val datagenS = (System.nanoTime() - t0) / 1e9

    val avroBytes = new File(avroDir).listFiles().filter(_.getName.endsWith(".avro")).map(_.length).sum
    val srcBytes = new File(srcPath).length()
    val fragBytes = stored(r, fragments)._1

    /** A write op: `write` runs the graft.sources call; the check reads the
      * output back and compares its digest with the source's. */
    def writeOp(opName: String, source: Long, expect: String)(write: => Unit): Op =
      Op(opName, "write", define = () => (), act = (_, _) => { write; Map("source_bytes" -> source) },
        check = _ => {
          val back = digest(s.read.option("basePath", s"$out/$opName").parquet(s"$out/$opName"))
          if (back == expect) None else Some(s"read-back digest $back != source digest $expect")
        })

    val writes = Seq(
      writeOp("avro", avroBytes, avroDigest) {
        ParquetIO.write(AvroIO.readDistributed(s, s"$avroDir/*.avro"), s"$out/avro", mode = "overwrite")
      },
      writeOp("plain", srcBytes, ordersDigest) {
        ParquetIO.write(orders, s"$out/plain", mode = "overwrite")
      },
      writeOp("partitioned", srcBytes, ordersDigest) {
        ParquetIO.write(orders, s"$out/partitioned", mode = "overwrite",
          partitionCols = Seq("o_orderstatus"))
      },
      writeOp("bloom", srcBytes, ordersDigest) {
        ParquetIO.write(orders.repartitionByRange(bloomFiles, col("o_orderkey")),
          s"$out/bloom", mode = "overwrite", bloomFilterCols = Seq("o_orderkey"))
      },
      writeOp("zorder", srcBytes, ordersDigest) {
        ZOrder.writeZOrdered(orders, s"$out/zorder", Seq("o_custkey", "o_totalprice"), zorderFiles)
      },
      writeOp("compact", fragBytes, ordersDigest) {
        Compaction.compact(s, fragments, s"$out/compact", compactTargetBytes)
      })

    def lookupOp(hit: Boolean, key: Long): Op =
      Op(if (hit) "lookup.hit" else "lookup.miss", "lookup",
        define = () => ParquetIO.readPointLookup(s, s"$out/bloom", "o_orderkey", key),
        act = (df, _) => {
          val d = df.asInstanceOf[DataFrame]
          val rows = d.collect()
          Map("rows" -> rows.length, "files" -> d.inputFiles.length, "key" -> key)
        },
        check = df => {
          val got = df.asInstanceOf[DataFrame].collect()
          val want = s.read.parquet(s"$out/bloom").filter(col("o_orderkey") === key).collect()
          if (sameRows(got, want) && (got.nonEmpty == hit)) None
          else Some(s"lookup $key returned ${got.length} rows, a filtered read ${want.length}")
        })

    // footer-only reads; each returns row counts the check compares with
    // the source's
    def footerRows(): Seq[Long] = Seq("bloom", "zorder", "compact")
      .map(t => ParquetMeta.footers(s"$out/$t").map(_.getBlocks.asScala.map(_.getRowCount).sum).sum)
    def rowGroupRows(): Seq[Long] = Seq(ParquetMeta.partFiles(s"$out/bloom")
      .map(p => ParquetMeta.rowGroupStats(p.toString).map(_._1).sum).sum)
    def footerOp(opName: String, rows: () => Seq[Long]): Op =
      Op(opName, "footer", define = () => (), act = (_, _) => rows(),
        check = _ => {
          val n = rows()
          if (n.forall(_ == sourceRows)) None else Some(s"footer row counts $n != $sourceRows")
        })
    val footerOps = Seq(footerOp("footers", footerRows), footerOp("rowgroup_stats", rowGroupRows))

    def reads(pass: Int): Seq[Op] = {
      val rnd = new scala.util.Random(r.seed * 7919L + pass)
      val hits = Seq.fill(lookupsPerPass / 2)(keys(rnd.nextInt(keys.length)))
      // absent keys lie past the largest present one: the keys are dense
      val misses = Seq.fill(lookupsPerPass / 2)(keys.last + 1 + rnd.nextInt(keys.length))
      hits.map(lookupOp(hit = true, _)) ++ misses.map(lookupOp(hit = false, _)) ++ footerOps
    }

    val passes = r.passes(discard, timed, p => r.order(writes, p) ++ r.order(reads(p), p))
    val layout = Seq("avro", "plain", "partitioned", "bloom", "zorder", "compact").map { t =>
      val (bytes, files) = stored(r, s"$out/$t")
      val groups = ParquetMeta.partFiles(s"$out/$t").map(p => ParquetMeta.rowGroupStats(p.toString).size).sum
      t -> Map("bytes" -> bytes, "files" -> files, "row_groups" -> groups)
    }.toMap
    Map("passes" -> passes, "datagen_s" -> datagenS, "written" -> layout)
  }

  /** The Avro input of the ingest op: orders as `avroFiles` container
    * files, order date as epoch microseconds. Written once per checkout. */
  private def writeAvro(df: DataFrame, dir: String): Unit = {
    Workload.rmTree(dir)
    new File(dir).mkdirs()
    val fields = df.schema.fields.map { f =>
      val t = f.dataType match {
        case org.apache.spark.sql.types.LongType => "long"
        case org.apache.spark.sql.types.DoubleType => "double"
        case _ => "string"
      }
      s"""{"name":"${f.name}","type":["null","$t"],"default":null}"""
    }
    val schema = new Schema.Parser().parse(
      s"""{"type":"record","name":"orders","fields":[${fields.mkString(",")}]}""")
    val writers = (0 until avroFiles).map { i =>
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.setCodec(CodecFactory.snappyCodec())
      w.create(schema, new File(dir, f"part-$i%02d.avro"))
    }
    val it = df.toLocalIterator().asScala
    var n = 0L
    it.foreach { row =>
      val rec = new GenericData.Record(schema)
      df.schema.fields.indices.foreach(i => rec.put(i, row.get(i)))
      writers((n % avroFiles).toInt).append(rec)
      n += 1
    }
    writers.foreach(_.close())
    new File(dir, "_DONE").createNewFile()
  }
}
