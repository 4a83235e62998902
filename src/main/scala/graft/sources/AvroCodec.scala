package graft.sources

import java.io.ByteArrayOutputStream

import scala.collection.concurrent.TrieMap

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Avro (de)serialization for the CTA topics (SURVEY.md §2.1 S4, §2.7 K3).
  *
  * The environment ships core Avro (`avro-1.12.1.jar`) but not the
  * `spark-avro` module, so `from_avro`/`to_avro` are unavailable. The
  * decode hot path is the native codegen expression ([[AvroDecode]]);
  * the typed UDF codecs here are the documented fallback and the
  * encode side. Schema-registry 5-byte framing (magic 0x00 + 4-byte
  * schema id, reference producers/models/producer.py:23-52) is
  * supported via `registryFramed`/[[stripRegistryFrame]].
  *
  * Schemas mirror the reference's data contracts:
  * arrival_value.json / turnstile_value.json / weather_value.json /
  * *_key.json under kafka-streaming-pipeline/producers/models/schemas/.
  *
  * Scale note: the codec caches parsed `Schema`/reader per JVM (TrieMap
  * keyed by schema text), so executor tasks pay parse cost once, and the
  * UDF closure captures only the schema string (always serializable).
  */
object AvroCodec {

  // --- data contracts (reference schemas, §FIXTURES.md 2.1-2.3) ---

  case class ArrivalValue(
      station_id: Int, train_id: String, direction: String, line: String,
      train_status: String, prev_station_id: Option[Int], prev_direction: Option[String])

  case class TurnstileValue(station_id: Int, station_name: String, line: String)

  case class EventKey(timestamp: Long)

  val arrivalValueSchema: String =
    """{"type":"record","name":"arrival","namespace":"graft.cta",
      |"fields":[
      |{"name":"station_id","type":"int"},
      |{"name":"train_id","type":"string"},
      |{"name":"direction","type":"string"},
      |{"name":"line","type":"string"},
      |{"name":"train_status","type":"string"},
      |{"name":"prev_station_id","type":["null","int"],"default":null},
      |{"name":"prev_direction","type":["null","string"],"default":null}
      |]}""".stripMargin

  val turnstileValueSchema: String =
    """{"type":"record","name":"turnstile","namespace":"graft.cta",
      |"fields":[
      |{"name":"station_id","type":"int"},
      |{"name":"station_name","type":"string"},
      |{"name":"line","type":"string"}
      |]}""".stripMargin

  val weatherValueSchema: String =
    """{"type":"record","name":"weather","namespace":"graft.cta",
      |"fields":[
      |{"name":"temperature","type":"float"},
      |{"name":"status","type":{"type":"enum","name":"WeatherStatus",
      |"symbols":["sunny","partly_cloudy","cloudy","windy","precipitation"]}}
      |]}""".stripMargin

  val eventKeySchema: String =
    """{"type":"record","name":"key","namespace":"graft.cta",
      |"fields":[{"name":"timestamp","type":"long"}]}""".stripMargin

  // --- per-JVM schema cache ---

  private val schemaCache = TrieMap.empty[String, Schema]
  private def schema(json: String): Schema =
    schemaCache.getOrElseUpdate(json, new Schema.Parser().parse(json))

  def decodeRecord(json: String, bytes: Array[Byte], registryFramed: Boolean = false): GenericRecord = {
    val s = schema(json)
    val payload = if (registryFramed) stripRegistryFrame(bytes) else bytes
    val reader = new GenericDatumReader[GenericRecord](s)
    reader.read(null, DecoderFactory.get.binaryDecoder(payload, null))
  }

  /** Tolerant decode: corrupt/truncated payloads yield null instead of
    * failing the task (PERMISSIVE-mode analog of from_json; a poisoned
    * record must not kill a 1000-executor job). */
  def decodeRecordOrNull(json: String, bytes: Array[Byte], registryFramed: Boolean = false): GenericRecord =
    try decodeRecord(json, bytes, registryFramed)
    catch { case scala.util.control.NonFatal(_) => null }

  // --- Confluent-style schema-registry framing (magic 0x00 + 4-byte id) ---

  /** Strip the 5-byte registry frame; throws on unframed input (the
    * tolerant decoders turn that into a null row, not a task failure). */
  def stripRegistryFrame(bytes: Array[Byte]): Array[Byte] = {
    require(bytes.length >= 5 && bytes(0) == 0x00.toByte,
      "payload is not schema-registry framed")
    java.util.Arrays.copyOfRange(bytes, 5, bytes.length)
  }

  /** Frame a plain Avro payload the way registry-backed producers do. */
  def frameForRegistry(schemaId: Int, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(5 + payload.length)
    bb.put(0x00.toByte).putInt(schemaId).put(payload)
    bb.array()
  }

  def encodeRecord(json: String)(fill: GenericData.Record => Unit): Array[Byte] = {
    val s = schema(json)
    val rec = new GenericData.Record(s)
    fill(rec)
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get.binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](s).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private def str(r: GenericRecord, f: String): String = {
    val v = r.get(f); if (v == null) null else v.toString
  }

  // --- typed decoders as Columns ---
  // Backed by the native codegen expression (AvroDecode): enum -> symbol
  // name (P14) and null-on-corrupt come from AvroRuntime.
  // `decodeArrivalUdf` below is the boxed fallback, kept as the parity
  // reference for the codegen path.

  val decodeArrival: Column => Column = AvroFunctions.decodeExpr(arrivalValueSchema)
  val decodeTurnstile: Column => Column = AvroFunctions.decodeExpr(turnstileValueSchema)
  val decodeWeather: Column => Column = AvroFunctions.decodeExpr(weatherValueSchema)
  val decodeEventKey: Column => Column = AvroFunctions.decodeExpr(eventKeySchema)

  val decodeArrivalUdf: Column => Column = {
    val sj = arrivalValueSchema
    val f = udf { bytes: Array[Byte] =>
      val r = if (bytes == null) null else AvroCodec.decodeRecordOrNull(sj, bytes)
      if (r == null) null
      else {
        ArrivalValue(
          r.get("station_id").asInstanceOf[Int], str(r, "train_id"),
          str(r, "direction"), str(r, "line"), str(r, "train_status"),
          Option(r.get("prev_station_id")).map(_.asInstanceOf[Int]),
          Option(str(r, "prev_direction")))
      }
    }
    c => f(c)
  }

  // --- typed encoders (K3 sink side) ---

  val encodeTurnstile: Column => Column = {
    val sj = turnstileValueSchema
    val f = udf { t: TurnstileValue =>
      if (t == null) null
      else encodeRecord(sj) { r =>
        r.put("station_id", t.station_id)
        r.put("station_name", t.station_name)
        r.put("line", t.line)
      }
    }
    c => f(c)
  }

  val encodeEventKey: Column => Column = {
    val sj = eventKeySchema
    val f = udf { k: EventKey =>
      if (k == null) null else encodeRecord(sj)(r => r.put("timestamp", k.timestamp))
    }
    c => f(c)
  }
}
