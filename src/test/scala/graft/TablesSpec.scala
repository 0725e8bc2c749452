package graft

import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Pins the Tables contract the driver has already broken once: after
  * `Tables(spark, dir, "events")`, `ts` is LongType epoch NANOSECONDS
  * no matter which physical encoding the driver's generator used.
  *
  * Round-5 incident: `events.parquet` silently moved from
  * TIMESTAMP(NANOS) (→ LongType under nanosAsLong) to TIMESTAMP(MICROS)
  * isAdjustedToUTC=false (→ TimestampNTZType), and every `ts div N`
  * expression failed analysis. Fixtures below cover the three loadable
  * encodings; if a fourth appears, Tables throws with a pointer here
  * instead of letting 12 queries fail downstream.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // 2024-01-01T00:00:07.179575Z — first ts of the driver's generator.
  private val micros  = 1704067207179575L
  private val nanos   = micros * 1000L

  /** Tables reads a table's schema from its footer; it must be the
    * schema Spark infers for the file, after the same normalization. */
  private def assertInferredSchema(dir: String, name: String): Unit = {
    val got = Tables(spark, dir, name).schema
    val want = Tables.normalized(name, spark.read.parquet(s"$dir/$name.parquet")).schema
    assert(got == want, s"$dir/$name: footer schema $got, inferred $want")
  }

  private def roundTrip(write: String => Unit): (DataType, Long) = {
    val dir = tmpDir("graft-tables")
    write(s"$dir/events.parquet")
    val df = Tables(spark, dir, "events")
    assertInferredSchema(dir, "events")
    val dt = df.schema("ts").dataType
    val v  = df.orderBy("event_id").select("ts").as[Long].head()
    (dt, v)
  }

  test("long (nanos) ts passes through unchanged") {
    val (dt, v) = roundTrip { path =>
      Seq((1L, nanos)).toDF("event_id", "ts").write.parquet(path)
    }
    assert(dt == LongType)
    assert(v == nanos)
  }

  test("timestamp_ntz (micros, isAdjustedToUTC=false) ts normalizes to nano-longs") {
    val ldt = LocalDateTime.ofEpochSecond(micros / 1000000L, ((micros % 1000000L) * 1000L).toInt, ZoneOffset.UTC)
    val (dt, v) = roundTrip { path =>
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampNTZType)))
      spark.createDataFrame(
        java.util.List.of(Row(1L, ldt)), schema).write.parquet(path)
    }
    assert(dt == LongType)
    assert(v == nanos)
  }

  test("timestamp (micros, tz-adjusted) ts normalizes to nano-longs") {
    val inst = Instant.ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L)
    val (dt, v) = roundTrip { path =>
      Seq((1L, inst)).toDF("event_id", "ts").write.parquet(path)
    }
    assert(dt == LongType)
    assert(v == nanos)
  }

  test("the driver's actual events.parquet loads as nano-longs") {
    val df = Tables(spark, testdataRoot, "events")
    assert(df.schema("ts").dataType == LongType)
    // generator epoch starts 2024-01-01; sanity-band the first value
    val first = df.select("ts").as[Long].head()
    assert(first > 1700000000000000000L && first < 1900000000000000000L)
  }

  // The embeddings/documents analog of the ts drift alarm (VERDICT r6
  // #7): the driver's generator could legitimately re-encode
  // `embedding` as list<float> OR list<double> (pyarrow defaults differ
  // by construction path) and `text` dictionary/plain with or without
  // nulls. Both must flow through the ACTUAL kernels — the native
  // cosine and the native text expressions — not just load.

  test("embeddings.embedding works through the cosine path as list<float> AND list<double>") {
    val vec = Seq(0.6, 0.8, 0.0)
    val fixtures = Seq(
      Seq((1L, vec.map(_.toFloat)), (2L, vec.map(v => (v * 2).toFloat)))
        .toDF("vec_id", "embedding"),
      Seq((1L, vec), (2L, vec.map(_ * 2)))
        .toDF("vec_id", "embedding"))
    for (fixture <- fixtures) {
      val dir = tmpDir("graft-emb")
      fixture.write.parquet(s"$dir/embeddings.parquet")
      val df = Tables(spark, dir, "embeddings")
      df.schema("embedding").dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => // ok
        case other => fail(s"fixture embedding loaded as $other")
      }
      // parallel vectors → cosine exactly 1.0 under either element type
      val sims = df.crossJoin(df.select($"embedding".as("e2")))
        .select(GraftFunctions.cosineNative(spark, $"embedding", $"e2").as("c"))
        .as[Double].collect()
      assert(sims.forall(s => math.abs(s - 1.0) < 1e-6), sims.toSeq.toString)
    }
  }

  test("documents.text survives nulls + non-ASCII through the native text kernels") {
    val dir = tmpDir("graft-docs")
    Seq((1L, "plain ascii text here"), (2L, "ünïcodé — 日本語テスト"), (3L, null))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val df = Tables(spark, dir, "documents")
    assert(df.schema("text").dataType == StringType,
      s"documents.text drifted to ${df.schema("text").dataType}")
    val out = df.select(
        $"doc_id",
        GraftFunctions.charEntropyNative(spark, $"text")("entropy_micro").as("ent"),
        GraftFunctions.langIdNative(spark, $"text").as("lang"),
        GraftFunctions.fingerprintNative(spark, $"text").as("fp"))
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    // non-null rows produce non-null features; the null row stays null
    // through entropy/fingerprint and maps to the declared 'und'
    // sentinel through lang-id (LangId.nullable=false by contract) —
    // no kernel ever throws on a null document
    assert(!out(0).isNullAt(1) && !out(1).isNullAt(1) && out(2).isNullAt(1))
    assert(out(0).getString(2) != null && out(2).getString(2) == "und")
    assert(!out(0).isNullAt(3) && out(2).isNullAt(3))
  }

  test("every testdata table loads and its critical arithmetic columns are usable") {
    // front-line drift alarm: a driver re-encode should fail HERE with
    // one clear message, not as dozens of downstream query failures
    for (name <- Tables.names) {
      val df = Tables(spark, testdataRoot, name)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.limit(1).collect().nonEmpty, s"$name is empty")
    }
    val root = new java.io.File(testdataRoot).getParent
    for (sfDir <- Seq("sf0.001", "sf0.01", "sf0.1"); name <- Tables.names)
      assertInferredSchema(s"$root/$sfDir", name)
    val emb = Tables(spark, testdataRoot, "embeddings")
    emb.schema("embedding").dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => // ok
      case other => fail(
        s"embeddings.embedding loaded as $other — the similarity surface " +
          "accepts array<float|double>; extend it (see CosineSimilarity)")
    }
    val ev = Tables(spark, testdataRoot, "events")
    for (c <- Seq("event_type", "props"))
      assert(ev.schema(c).dataType == StringType,
        s"events.$c drifted from string")
    for (c <- Seq("user_id", "value"))
      assert(ev.schema(c).dataType.isInstanceOf[NumericType],
        s"events.$c must stay numeric")
  }

  test("Tables.apply starts no Spark job") {
    // a fresh copy of the files, so the catalog resolves every table anew
    val dir = tmpDir("graft-tables-jobs")
    for (name <- Tables.names)
      java.nio.file.Files.copy(java.nio.file.Paths.get(sf(name)),
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
    for (name <- Tables.names)
      assert(jobsDuring(Tables(spark, dir, name)) == 0, s"resolving $name started a job")
  }
}
