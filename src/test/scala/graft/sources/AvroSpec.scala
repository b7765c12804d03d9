package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TempDirs}

/** Avro connector contracts: typed round-trip equality across every
  * supported Spark type (incl. nulls, arrays, NTZ timestamps, binary),
  * schema translation in both directions, file-per-partition layout, and
  * loud rejection of out-of-scope types.
  */
class AvroSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(4, "avro-spec")
  import spark.implicits._

  test("round trip: all supported types, nulls, arrays — value-exact") {
    val dir = tempDir("graft-avro").toString
    val df = spark.range(200).select(
      $"id".as("k"),
      ($"id" % 7).cast("int").as("i"),
      when($"id" % 5 === 0, lit(null)).otherwise(concat(lit("s"), $"id")).as("s"),
      ($"id" * 0.25).as("d"),
      ($"id" % 2 === 0).as("b"),
      array($"id".cast("double"), ($"id" * 2).cast("double")).as("arr"),
      unhex(lpad(hex($"id" % 256), 2, "0")).as("bin"),
      timestamp_micros($"id" * 1000000L + 123456L).as("ts"),
      timestamp_micros($"id" * 1000000L).cast(TimestampNTZType).as("ts_ntz"))
    Avro.writeAvro(df.repartition(3), dir)

    val back = Avro.readAvro(spark, dir)
    assert(back.schema == df.schema)
    val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
    val a = df.collect().sortBy(key).map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq; case x => x
    })
    val b = back.collect().sortBy(key).map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq; case x => x
    })
    assert(a.toSeq == b.toSeq)

    // one container file per non-empty input partition
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".avro"))
    assert(files.length == 3)
  }

  test("schema translation: nullable ⇒ union(null, T) and back; empty dir rejected") {
    val st = StructType(Seq(
      StructField("a", LongType, nullable = true),
      StructField("b", StringType, nullable = false),
      StructField("c", ArrayType(DoubleType, containsNull = false), nullable = true)))
    val avro = Avro.avroSchema(st)
    assert(avro.getField("a").schema().getType == org.apache.avro.Schema.Type.UNION)
    assert(avro.getField("b").schema().getType == org.apache.avro.Schema.Type.STRING)
    assert(Avro.sparkSchema(avro) == st)

    val empty = tempDir("graft-avro-empty").toString
    val ex = intercept[IllegalArgumentException](Avro.readAvro(spark, empty))
    assert(ex.getMessage.contains("no .avro"))
  }

  test("unsupported types fail loudly at schema translation, not silently corrupt") {
    val nested = StructType(Seq(StructField(
      "m", MapType(StringType, LongType), nullable = true)))
    val ex = intercept[IllegalArgumentException](Avro.avroSchema(nested))
    assert(ex.getMessage.contains("unsupported"))
  }
}
