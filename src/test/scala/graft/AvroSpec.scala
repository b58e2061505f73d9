package graft

import graft.sources.{AvroCodec, Catalog, CatalogSql}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Avro container ingest/export (AvroCodec — Avro core, no spark-avro
  * module): typed round-trips including temporals, arrays, nested
  * structs and nulls; name-mapped decode against a reordered/narrower
  * target; the dead-letter quarantine split; and the COPY INTO surface.
  */
class AvroSpec extends SparkSpec {

  private def tmp() = tempDir("graft_avro_").toString

  test("typed round-trip: scalars, timestamp, date, array, struct, nulls") {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("score", DoubleType),
      StructField("flag", BooleanType),
      StructField("ts", TimestampType),
      StructField("d", DateType),
      StructField("tags", ArrayType(StringType)),
      StructField("nested", StructType(Seq(
        StructField("x", IntegerType), StructField("y", StringType))))))
    val rows = Seq(
      Row(1L, "alpha", 1.5, true,
        java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789"),
        java.sql.Date.valueOf("2024-03-01"), Seq("a", "b"), Row(7, "in")),
      Row(2L, null, null, false, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tmp()
    AvroCodec.writeAvro(df, dir)
    val back = AvroCodec.readAvro(spark, dir, schema)
    assert(back.schema == schema ||
      back.schema.fieldNames.sameElements(schema.fieldNames))
    val a = df.orderBy("id").collect().toSeq
    val b = back.orderBy("id").collect().toSeq
    assert(a == b)
    // timestamp survives to the microsecond
    assert(b.head.getTimestamp(4).getTime == a.head.getTimestamp(4).getTime)
  }

  test("name-mapped decode: reordered + narrower target, missing col null") {
    import spark.implicits._
    val df = Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("id", "s", "v")
    val dir = tmp()
    AvroCodec.writeAvro(df, dir)
    // target reorders, drops v, and asks for a column the file lacks
    val target = StructType(Seq(
      StructField("s", StringType), StructField("id", LongType),
      StructField("absent", StringType)))
    val back = AvroCodec.readAvro(spark, dir, target).orderBy("id").collect()
    assert(back.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq(("x", 1L, null), ("y", 2L, null)))
  }

  test("catalog insertAvro round-trips the documents fixture exactly") {
    val cat = new Catalog(spark, tmp())
    val docs = Tables.documents(spark, sf0001)
    val dir = tmp()
    AvroCodec.writeAvro(docs, dir)
    cat.create("d_avro", docs.schema)
    val n = cat.insertAvro("d_avro", dir)
    assert(n == docs.count())
    val fp = (df: org.apache.spark.sql.DataFrame) => df.agg(
      sum(graft.functions.TextFunctions.tokenHash60(col("text")) % 1000003L))
      .head().getLong(0)
    assert(fp(cat.table("d_avro")) == fp(docs))
  }

  test("avro quarantine: unparseable cells dead-letter with _reason") {
    import spark.implicits._
    val cat = new Catalog(spark, tmp())
    cat.create("t", StructType(Seq(
      StructField("id", LongType), StructField("n", LongType))))
    cat.create("t_dead", StructType(Seq(
      StructField("id", StringType), StructField("n", StringType),
      StructField("_reason", StringType))))
    // the staged avro declares n as STRING — two rows carry non-numeric n
    val dirty = Seq(("1", "10"), ("2", "bad2"), ("3", "30"), ("4", "x4"))
      .toDF("id", "n")
    val dir = tmp()
    AvroCodec.writeAvro(dirty, dir)
    val (good, bad) = cat.insertAvroQuarantine("t", "t_dead", dir)
    assert(good == 2 && bad == 2)
    assert(cat.table("t").agg(sum("n")).head().getLong(0) == 40L)
    val dead = cat.table("t_dead").orderBy("id").collect()
    assert(dead.map(_.getString(1)).toSeq == Seq("bad2", "x4"))
    assert(dead.forall(_.getString(2) == "n"))
  }

  test("wire datums: encode/decode round-trips, narrower reader target works") {
    import spark.implicits._
    val df = Seq((1L, "x", 10L), (2L, null.asInstanceOf[String], 20L))
      .toDF("id", "s", "v")
    val schemaJson = AvroCodec.writerSchemaJson(df.schema)
    val wire = AvroCodec.encodeDatum(df)
    assert(wire.schema.fieldNames.toSeq == Seq("value"))
    val back = AvroCodec.decodeDatum(wire, schemaJson, df.schema)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(back == df.orderBy("id").collect().map(_.toSeq).toSeq)
    // narrower + reordered consumer target: name-mapped, missing → null
    val target = StructType(Seq(
      StructField("v", LongType), StructField("id", LongType),
      StructField("absent", StringType)))
    val nar = AvroCodec.decodeDatum(wire, schemaJson, target)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.get(2)))
    assert(nar.toSeq == Seq((10L, 1L, null), (20L, 2L, null)))
  }

  test("COPY INTO ... FORMAT avro through the SQL surface") {
    val cat = new Catalog(spark, tmp())
    val docs = Tables.documents(spark, sf0001)
    val dir = tmp()
    AvroCodec.writeAvro(docs.select("doc_id", "lang"), dir)
    CatalogSql.exec(spark, cat,
      "CREATE TABLE dl (doc_id BIGINT, lang STRING)")
    val st = CatalogSql.exec(spark, cat,
      s"COPY INTO dl FROM '$dir' FORMAT avro").collect()
    assert(st.head.getLong(st.head.fieldIndex("rows")) == docs.count())
    assert(cat.table("dl").count() == docs.count())
    // and back out: COPY ... TO ... FORMAT avro round-trips
    val out = tmp()
    val st2 = CatalogSql.exec(spark, cat,
      s"COPY dl TO '$out/export' FORMAT avro").collect()
    assert(st2.head.getLong(st2.head.fieldIndex("rows")) == docs.count())
    val back = AvroCodec.readAvro(spark, s"$out/export",
      cat.table("dl").schema)
    assert(back.count() == docs.count())
  }

  test("one large multi-block container splits across >1 task, content exact") {
    // many small blocks: a 1 KiB sync interval forces a sync marker every
    // few records, so byte-range splits have boundaries to resync at
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", StringType)))
    val n = 20000
    val dir = tmp()
    val avroSchema = new org.apache.avro.Schema.Parser()
      .parse(AvroCodec.writerSchemaJson(schema, "split_test"))
    val w = new org.apache.avro.file.DataFileWriter[
        org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter(avroSchema))
    w.setSyncInterval(1024)
    w.create(avroSchema, new java.io.File(dir, "big.avro"))
    (0 until n).foreach { i =>
      val rec = new org.apache.avro.generic.GenericData.Record(avroSchema)
      rec.put("id", i.toLong)
      rec.put("payload", s"row-$i-" + ("x" * 40))
      w.append(rec)
    }
    w.close()
    // 64 KiB ranges over a ~1.2 MB single file → many splits, each task
    // resyncing mid-file; the union must be exactly the written rows
    val back = AvroCodec.readAvro(spark, dir, schema, splitBytes = 64L << 10)
    assert(back.rdd.getNumPartitions > 1,
      "a single large container must read in >1 task")
    assert(back.count() === n.toLong)
    assert(back.agg(sum(col("id"))).head.getLong(0) === n.toLong * (n - 1) / 2)
    assert(back.select("id").distinct().count() === n.toLong)
    // spot-check payload integrity at a split-boundary-agnostic sample
    val got = back.filter(col("id") % 4999 === 0).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq(0L, 4999L, 9998L, 14997L, 19996L)
      .map(i => (i, s"row-$i-" + ("x" * 40))))
  }

  test("TimestampNTZ round-trips as local-timestamp-micros (the repo's canonical stamp)") {
    // events-shaped: NTZ is what Tables.events normalizes to, so COPY TO
    // avro must handle it (it used to throw 'unsupported Spark type')
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts", TimestampNTZType)))
    val rows = Seq(
      Row(1L, java.time.LocalDateTime.parse("2024-03-01T12:34:56.789123")),
      Row(2L, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val dir = tmp()
    AvroCodec.writeAvro(df, dir)
    // the written Avro schema carries the local-timestamp-micros logical type
    val sj = AvroCodec.writerSchemaJson(schema)
    assert(sj.contains("local-timestamp-micros"))
    val back = AvroCodec.readAvro(spark, dir, schema)
    assert(back.orderBy("id").collect().toSeq === rows)
    // the quarantine string face renders NTZ as an ISO local form (no zone)
    val asStr = AvroCodec.readAvroAsStrings(spark, dir, schema)
      .orderBy("id").collect()
    assert(asStr(0).getString(1) === "2024-03-01T12:34:56.789123")
    assert(asStr(1).getString(1) == null)
    // and the whole events fixture survives an avro round-trip
    val ev = Tables.events(spark, sf0001).select("event_id", "user_id", "ts")
    val evDir = tmp()
    AvroCodec.writeAvro(ev, evDir)
    val evBack = AvroCodec.readAvro(spark, evDir, ev.schema)
    assert(evBack.count() === ev.count())
    assert(evBack.exceptAll(ev).isEmpty && ev.exceptAll(evBack).isEmpty)
  }
}
