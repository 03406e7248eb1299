package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model._

/** Seeded fuzz: encode∘decode = identity over random envelopes —
  * exercises escaping, unicode, unsigned 64-bit, omission, maps and
  * arrays far beyond the golden fixtures. Generator shared with the
  * protobuf wire codec fuzz ([[EnvelopeGen]]). */
class EnvelopeFuzzSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val gen = new EnvelopeGen(20260812)

  test("encode -> decode round-trips 300 random envelopes byte-faithfully") {
    val spark2 = spark
    import spark2.implicits._
    val envs = Seq.fill(300)(gen.envelope())
    val df = envs.toDS().toDF()
    val decoded = df
      .select(Functions.envelope_json(struct(df.columns.map(col): _*)).as("j"))
      .select(Functions.envelope_decode(col("j")).as("e"))
      .select("e.*").as[Envelope].collect().toSeq
    assert(decoded.length === envs.length)
    decoded.zip(envs).zipWithIndex.foreach { case ((got, want), i) =>
      // Array[Byte] equality is referential; compare via normalized view
      assert(gen.key(got) === gen.key(want), s"fuzz case $i diverged")
    }
  }

  test("every encoded payload is valid JSON (decode never drops)") {
    val spark2 = spark
    import spark2.implicits._
    val envs = Seq.fill(100)(gen.envelope())
    val df = envs.toDS().toDF()
    val dropped = df
      .select(Functions.envelope_json(struct(df.columns.map(col): _*)).as("j"))
      .select(Functions.envelope_decode(col("j")).as("e"))
      .filter(col("e").isNull)
    assert(dropped.count() === 0)
  }

  private def hex(d: MessageDigest): String = d.digest().map(b => f"$b%02x").mkString

  /** SHA-256 over the byte strings in order, each length-prefixed. */
  private def bytesDigest(outputs: Seq[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    outputs.foreach { b => md.update(s"${b.length}:".getBytes(UTF_8)); md.update(b) }
    hex(md)
  }

  /** SHA-256 over decoded envelope rows, walked by the test itself so it
    * shares no code with the codecs: every field in schema order with an
    * explicit NULL marker, doubles by their bits, strings and binary
    * length-prefixed, maps in storage order (duplicate keys kept). */
  private def rowsDigest(df: DataFrame): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes(UTF_8))
    def bytes(b: Array[Byte]): Unit = { put(s"${b.length}:"); md.update(b) }
    def walk(r: InternalRow, s: StructType): Unit = {
      put("{")
      s.fields.indices.foreach { i =>
        if (r.isNullAt(i)) put("N")
        else s(i).dataType match {
          case t: StructType => walk(r.getStruct(i, t.length), t)
          case IntegerType => put(s"i${r.getInt(i)}")
          case LongType => put(s"l${r.getLong(i)}")
          case DoubleType => put(s"d${java.lang.Double.doubleToRawLongBits(r.getDouble(i))}")
          case StringType => put("s"); bytes(r.getUTF8String(i).getBytes)
          case BinaryType => put("b"); bytes(r.getBinary(i))
          case ArrayType(StringType, _) =>
            val a = r.getArray(i)
            put(s"[${a.numElements()}")
            (0 until a.numElements()).foreach(k => bytes(a.getUTF8String(k).getBytes))
          case MapType(StringType, StringType, _) =>
            val m = r.getMap(i)
            put(s"<${m.numElements()}")
            (0 until m.numElements()).foreach { k =>
              bytes(m.keyArray().getUTF8String(k).getBytes)
              bytes(m.valueArray().getUTF8String(k).getBytes)
            }
          case other => fail(s"unexpected envelope field type $other")
        }
      }
      put("}")
    }
    df.queryExecution.toRdd.map(_.copy()).collect().foreach { r =>
      if (r.isNullAt(0)) put("NULL")
      else walk(r.getStruct(0, EnvelopeSchema.schema.length), EnvelopeSchema.schema)
    }
    hex(md)
  }

  /** Seeded bit flips: one to three per input, at random offsets. */
  private def mutate(inputs: Seq[Array[Byte]], seed: Long): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    inputs.map { in =>
      val b = in.clone()
      if (b.nonEmpty) (0 to rnd.nextInt(3)).foreach { _ =>
        val at = rnd.nextInt(b.length)
        b(at) = (b(at) ^ (1 << rnd.nextInt(8))).toByte
      }
      b
    }
  }

  test("golden digests: 20,000 random envelopes through both encoders, mutated outputs through both decoders") {
    val spark2 = spark
    import spark2.implicits._
    val g = new EnvelopeGen(20261019)
    val envs = Seq.fill(20000)(g.envelope())
    val df = envs.toDS().toDF()
    val env = struct(df.columns.map(col): _*)
    val out = df.select(Functions.envelope_json(env).cast("binary"), Functions.envelope_proto(env))
      .collect()
    val json = out.map(_.getAs[Array[Byte]](0)).toSeq
    val proto = out.map(_.getAs[Array[Byte]](1)).toSeq

    val badJson = mutate(json.take(2000), 1)
    val badProto = mutate(proto.take(2000), 2)
    val fromJson = badJson.toDF("raw").select(Functions.envelope_decode(col("raw").cast("string")).as("e"))
    val fromProto = badProto.toDF("p").select(Functions.envelope_proto_decode(col("p")).as("e"))
    // both decoders see accepted and rejected inputs
    Seq(fromJson, fromProto).foreach { d =>
      val nulls = d.filter(col("e").isNull).count()
      assert(nulls > 0 && nulls < 2000, s"$nulls of 2000 mutated inputs decode to NULL")
    }
    assert(Seq(bytesDigest(json), bytesDigest(proto), rowsDigest(fromJson), rowsDigest(fromProto)) === Seq(
      "de6dc03d7d26a3f30aa40c31573cf5dd42a827ae89da6dfb15ed7a8e6034ab6e", // envelope_json
      "25848e3983033bde23d9a4d937e3305fa171c6f537c5f70dc3e68a33f2c530b2", // envelope_proto
      "d348fa235eddd7f4239aae12726551345c8ac6800405dd61a3505ee481382308", // envelope_decode of mutated JSON
      // envelope_proto_decode of mutated frames; frames 955 and 1618 are
      // well formed but for an HttpStartStop field number above 2^31-1,
      // so they decode to NULL, and so do the 27 frames (0-based: 8 41 53
      // 126 165 251 479 564 676 756 926 1031 1038 1056 1142 1257 1349
      // 1374 1411 1443 1570 1617 1733 1779 1819 1900 1912) whose flips
      // made a tag's field number 0
      "ced810d3a846537a90587f7e67210303bc477a439a9ee2dac535959571f733a3"))
  }
}
