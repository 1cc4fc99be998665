package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Avro

/** Avro OCF decode (operators.Avro), cross-validated against the
  * INDEPENDENT avro-java implementation: foreign-origin fixtures across
  * all three codecs and multi-block files, every supported primitive,
  * and loud torn-file rejects. The deflate/snappy block codecs route
  * through PageCodec.avroBlock (the JDK inflater and snappy-java).
  */
class AvroSpec extends AnyFunSuite {

  test("fixture family decodes to the closed form across codecs and " +
      "block layouts") {
    for (id <- 0L until 24L) {
      val f = Avro.decode(Avro.fixturePayload(id))
      assert(f.codec == Seq("null", "deflate", "snappy")((id % 3).toInt),
        s"id=$id codec")
      assert(f.fields.map(_.name) ==
        Seq("id", "seq", "host", "quarters", "flag", "note"), s"id=$id")
      assert(f.fields.last.nullable && !f.fields.head.nullable)
      assert(f.rows.length == Avro.fixtureRowCount(id), s"id=$id rows")
      if (id % 4 == 1) assert(f.nBlocks > 1, s"id=$id expected multi-block")
      f.rows.zipWithIndex.foreach { case (row, k) =>
        val (i, s, h, q, fl, note) = Avro.fixtureRow(id, k)
        assert(row(0) == i && row(1) == s && row(2) == h, s"id=$id k=$k")
        assert(row(3) == q, s"id=$id k=$k quarters")
        assert(row(4) == fl, s"id=$id k=$k flag")
        assert(row(5) == note.orNull, s"id=$id k=$k note")
      }
    }
  }

  test("every supported primitive roundtrips through avro-java bytes") {
    val schemaJson =
      """{"type":"record","name":"T","fields":[
        |{"name":"l","type":"long"},{"name":"i","type":"int"},
        |{"name":"s","type":"string"},{"name":"d","type":"double"},
        |{"name":"f","type":"float"},{"name":"b","type":"boolean"},
        |{"name":"y","type":"bytes"},
        |{"name":"ol","type":["null","long"]}]}""".stripMargin
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    val writer = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    val bos = new java.io.ByteArrayOutputStream()
    writer.create(schema, bos)
    val rnd = new scala.util.Random(41)
    val rows = (0 until 200).map { k =>
      (rnd.nextLong(), rnd.nextInt(), s"s$k-${rnd.nextInt(1000)}",
        rnd.nextDouble(), rnd.nextFloat(), rnd.nextBoolean(),
        Array.fill[Byte](rnd.nextInt(20))(rnd.nextInt().toByte),
        if (k % 3 == 0) null else java.lang.Long.valueOf(rnd.nextLong()))
    }
    rows.foreach { case (l, i, s, d, f, b, y, ol) =>
      val r = new org.apache.avro.generic.GenericData.Record(schema)
      r.put("l", l); r.put("i", i); r.put("s", s); r.put("d", d)
      r.put("f", f); r.put("b", b)
      r.put("y", java.nio.ByteBuffer.wrap(y)); r.put("ol", ol)
      writer.append(r)
    }
    writer.close()
    val dec = Avro.decode(bos.toByteArray)
    assert(dec.rows.length == 200)
    dec.rows.zip(rows).zipWithIndex.foreach {
      case ((got, (l, i, s, d, f, b, y, ol)), k) =>
        assert(got(0) == l && got(1) == i && got(2) == s, s"k=$k")
        assert(got(3) == d && got(4) == f && got(5) == b, s"k=$k")
        assert(got(6).asInstanceOf[Array[Byte]].sameElements(y), s"k=$k")
        assert(got(7) == ol, s"k=$k nullable")
    }
  }

  test("unsupported schema shapes and torn files reject loudly") {
    val nested = intercept[IllegalArgumentException](Avro.decode {
      val schema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"N","fields":[
          |{"name":"a","type":{"type":"array","items":"long"}}]}"""
          .stripMargin)
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](schema))
      val bos = new java.io.ByteArrayOutputStream()
      w.create(schema, bos)
      w.close()
      bos.toByteArray
    })
    assert(nested.getMessage.contains("out of scope") ||
      nested.getMessage.contains("unsupported"), nested.getMessage)
    val good = Avro.fixturePayload(2L) // snappy codec
    val notAvro = intercept[IllegalArgumentException](
      Avro.decode("Object stream, but not avro".getBytes("US-ASCII")))
    assert(notAvro.getMessage.contains("magic"), notAvro.getMessage)
    // clobber the trailing sync marker
    val badSync = good.clone()
    badSync(badSync.length - 1) = (badSync(badSync.length - 1) ^ 1).toByte
    val e1 = intercept[IllegalArgumentException](Avro.decode(badSync))
    assert(e1.getMessage.contains("sync"), e1.getMessage)
    // flip a compressed payload byte: snappy CRC or structure catches it
    val mid = good.length - 40
    val badPay = good.clone()
    badPay(mid) = (badPay(mid) ^ 0x10).toByte
    intercept[IllegalArgumentException](Avro.decode(badPay))
    // truncation
    intercept[IllegalArgumentException](
      Avro.decode(good.take(good.length / 2)))
  }
}
