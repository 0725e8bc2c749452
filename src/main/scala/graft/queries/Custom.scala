package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.AvroIO

/** Custom extension points (SURVEY §2B U1/U3, S4): scalar UDF (with the
  * native-rewrite cross-check as the oracle), typed flatMap generator
  * (UDTF shape), Avro scan.
  */
object Custom extends QGroup {

  /** s4's input: a 3-record Avro container holding the reference R7
    * fixture's rows, `(id: string, id2: array<string>)` = ("1", ["1"]),
    * ("2", ["2"]), ("3", ["3"]). Written once per JVM to a temp file by
    * Avro's own `DataFileWriter`, so the scan reads a real writer's
    * container and depends on no file outside the repo. */
  private lazy val threeRecordsAvro: String = {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = SchemaBuilder.record("ThreeRecords").fields()
      .requiredString("id")
      .name("id2").`type`().array().items().stringType().noDefault()
      .endRecord()
    val f = java.io.File.createTempFile("graft-3records", ".avro")
    f.deleteOnExit()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    try {
      w.create(schema, f)
      for (i <- 1 to 3) {
        val r = new GenericData.Record(schema)
        r.put("id", i.toString)
        r.put("id2", java.util.List.of(i.toString))
        w.append(r)
      }
    } finally w.close()
    f.getPath
  }

  def defs: Seq[QDef] = Seq(

    // U1: scalar Scala UDF — semantically identical to a built-in
    // composition, which is exactly what the oracle checks (and why
    // production code should prefer the codegen'd built-in: same result,
    // no serialization fence).
    QDef("u1_scalar_udf",
      (s, dir) => {
        val revLower = udf((x: String) =>
          if (x == null) null else x.toLowerCase(java.util.Locale.ROOT).reverse)
        Tables(s, dir, "part")
          .select(col("p_partkey"), revLower(col("p_name")).as("rev_name"))
          
      },
      Some("""SELECT p_partkey, reverse(lower(p_name)) AS rev_name
        |FROM part""".stripMargin)),

    // U3: generator (1 row → N) via typed Dataset flatMap.
    QDef("u3_flatmap_generator",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          // null rows filtered BEFORE the typed boundary: NULL can't
          // deserialize into primitive Long, and the oracle's LATERAL
          // over string_split(NULL) generates no rows for them either
          .filter(col("doc_id").isNotNull && col("text").isNotNull)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .flatMap { case (id, text) =>
            // limit -1 keeps trailing empty tokens (matches DuckDB
            // string_split and Spark SQL split; Java's default drops them)
            text.split(" ", -1).iterator.zipWithIndex.map { case (t, i) => (id, i + 1, t) }
          }
          .toDF("doc_id", "idx1", "tok")
          
      },
      Some("""SELECT doc_id, i AS idx1, string_split(text, ' ')[i] AS tok
        |FROM documents, LATERAL (SELECT unnest(generate_series(1, len(string_split(text, ' ')))) AS i)""".stripMargin)),

    // S4: Avro container scan (the reference R7 fixture's records, see
    // threeRecordsAvro; DuckDB has no Avro reader → rows-only, full
    // value checks in AvroIOSpec). The array
    // column is JSON-rendered: raw array cells crash the driver's pandas
    // sorter (VERDICT r1 §2).
    QDef("s4_avro_scan",
      (s, _) =>
        QShared.jsonifyComplex(
          AvroIO.read(s, threeRecordsAvro)
            .orderBy(col("id").asc_nulls_first)),
      None),

    // U4: typed grouped map — KeyValueGroupedDataset.flatMapGroups, the
    // batch sibling of G5's mapGroupsWithState: arbitrary per-group
    // Scala over an iterator of typed rows, here per-nation min-max
    // normalization of supplier balances. The group runs ONE keyed
    // exchange and streams each group through the lambda; the buffered
    // min/max pass is bounded by group size (dimension-grain here —
    // for unbounded fact groups use the W-family window instead, which
    // is the whole reason both exist). Floor-scaled integer output; the
    // oracle is the equivalent window SQL, certifying the typed escape
    // hatch against the declarative plan.
    QDef("u4_typed_mapgroups",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "supplier")
          // primitive tuple fields can't decode NULL (u3 lesson); the
          // oracle mirrors the filter
          .filter(col("s_nationkey").isNotNull && col("s_suppkey").isNotNull &&
            col("s_acctbal").isNotNull)
          .select(col("s_nationkey").cast("int"), col("s_suppkey"),
            col("s_acctbal"))
          .as[(Int, Long, Double)]
          .groupByKey(_._1)
          .flatMapGroups { (nation, it) =>
            val rows = it.toVector
            val lo = rows.iterator.map(_._3).min
            val hi = rows.iterator.map(_._3).max
            val span = hi - lo
            rows.iterator.map { case (_, k, bal) =>
              val norm =
                if (span == 0.0) 0L
                else math.floor((bal - lo) / span * 1e6).toLong
              (nation, k, norm)
            }
          }
          .toDF("s_nationkey", "s_suppkey", "norm_micro")
      },
      Some("""SELECT CAST(s_nationkey AS INTEGER) AS s_nationkey, s_suppkey,
        |  CASE WHEN hi = lo THEN 0
        |       ELSE CAST(FLOOR((s_acctbal - lo) / (hi - lo) * 1e6) AS BIGINT)
        |  END AS norm_micro
        |FROM (
        |  SELECT s_nationkey, s_suppkey, s_acctbal,
        |    min(s_acctbal) OVER (PARTITION BY s_nationkey) AS lo,
        |    max(s_acctbal) OVER (PARTITION BY s_nationkey) AS hi
        |  FROM supplier
        |  WHERE s_nationkey IS NOT NULL AND s_suppkey IS NOT NULL
        |    AND s_acctbal IS NOT NULL)""".stripMargin))
  )
}
