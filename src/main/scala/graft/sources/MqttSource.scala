package graft.sources

import java.io.{BufferedInputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** MQTT v3.1 *broker-side* push source — the analogue of the reference's
  * `plugins/in_mqtt` (`mqtt_prot.c`): IoT-ish clients CONNECT to us and
  * PUBLISH JSON payloads; each publish becomes one row.
  *
  * Protocol subset, mirroring `mqtt_prot_parser`
  * (mqtt_prot.c:370-486):
  *   - a connection's first packet MUST be CONNECT (else hangup), answered
  *     with CONNACK session-present=1, return code accepted
  *     (mqtt_handle_connect, :229-252);
  *   - PUBLISH: topic (2-byte BE length-prefixed), QoS 1 gets PUBACK and
  *     QoS 2 gets PUBREC echoing the packet id; DUP/RETAIN flags are
  *     ignored (mqtt_handle_publish, :257-345);
  *   - PINGREQ → PINGRESP (:348-368); DISCONNECT → hangup; other packet
  *     types are ignored;
  *   - the payload must be a complete JSON object — non-map payloads are
  *     dropped with a warning (mqtt_data_append → flb_pack_json,
  *     :125-145). The reference merges the JSON keys into the record
  *     beside `topic`; here the row carries the raw object for
  *     `from_json` downstream (schema-on-read instead of schemaless
  *     msgpack).
  *
  * The remaining-length varint (7 bits per byte, continuation MSB, max 4
  * bytes) follows mqtt_packet_header/:431-449; frames split across TCP
  * segments reassemble because reads block on the stream. Each accepted
  * publish is one segment of the [[PushSource]] core.
  *
  * Usage: `spark.readStream.format("graft.sources.MqttServerSource")
  * .option("port", p).load()` → rows (topic STRING, qos INT,
  * value STRING, ts TIMESTAMP).
  */
class MqttServerSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MqttServerSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val port = Option(properties.get("port")).map(_.toInt).getOrElse(
      throw new IllegalArgumentException("mqtt source requires option 'port'"))
    val host = Option(properties.get("host")).getOrElse("127.0.0.1")
    new PushTable(s"mqtt://$host:$port", MqttServerSource.Schema, MqttServerSource.Rows)(stream =>
      stream.serve(stream.listenTcp(host, port), s"mqtt-$port")(MqttServerSource.handle(stream)))
  }
}

object MqttServerSource {
  val Schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("qos", IntegerType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))

  /** Packet types (mqtt_prot.h:30-39). */
  val CONNECT = 1; val CONNACK = 2; val PUBLISH = 3; val PUBACK = 4
  val PUBREC = 5; val PINGREQ = 12; val PINGRESP = 13; val DISCONNECT = 14

  /** Quote/escape-aware scan: is `s` exactly one complete JSON object?
    * The cheap stand-in for the reference's full flb_pack_json parse —
    * enough to reject the non-map payloads mqtt_data_append drops.
    */
  def isJsonObject(s: String): Boolean = {
    var i = 0
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    if (i >= s.length || s.charAt(i) != '{') return false
    var depth = 0
    var inStr = false
    var esc = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' | '[' => depth += 1
        case '}' | ']' =>
          depth -= 1
          if (depth == 0) {
            var j = i + 1
            while (j < s.length && s.charAt(j).isWhitespace) j += 1
            return j == s.length
          }
        case _ =>
      }
      i += 1
    }
    false
  }

  /** A publish's payload under its (topic, qos, ms). */
  private[sources] object Rows extends EntryDecoder[(String, Int, Long)] {
    override def row(head: (String, Int, Long), b: Array[Byte], from: Int, until: Int): InternalRow =
      InternalRow(UTF8String.fromString(head._1), head._2, PushSource.text(b, from, until),
        head._3 * 1000L)
  }

  /** Remaining-length varint: 7 bits/byte, MSB continues, >4 bytes is a
    * protocol error (mqtt_prot.c:416 mult bound). Returns -1 on EOF/error.
    */
  private def readRemainingLength(in: InputStream): Int = {
    var mult = 1
    var length = 0
    var i = 0
    while (i < 4) {
      val b = in.read()
      if (b == -1) return -1
      length += (b & 127) * mult
      if ((b & 128) == 0) return length
      mult *= 128
      i += 1
    }
    -1
  }

  private def handle(stream: PushStream[(String, Int, Long)])(in0: InputStream, out: OutputStream): Unit = {
    val in = new BufferedInputStream(in0)
    var connected = false // first packet must be CONNECT (mqtt_prot.c:393)
    var done = false
    while (!done) {
      val h = in.read()
      if (h == -1) done = true
      else {
        val ptype = (h >> 4) & 0x0f
        val flags = h & 0x0f
        val len = readRemainingLength(in)
        if (len < 0 || (!connected && ptype != CONNECT)) done = true
        else {
          val frame = in.readNBytes(len)
          if (frame.length < len) done = true
          else ptype match {
            case CONNECT =>
              connected = true
              // CONNACK: session-present bit set, return code accepted
              out.write(Array[Byte]((CONNACK << 4).toByte, 2, 1, 0))
              out.flush()
            case PUBLISH =>
              done = !publish(stream, frame, flags, out)
            case PINGREQ =>
              out.write(Array[Byte]((PINGRESP << 4).toByte, 0))
              out.flush()
            case DISCONNECT =>
              done = true
            case _ => // ignored, like the reference's empty else
          }
        }
      }
    }
  }

  /** Parse one PUBLISH frame; returns false on a malformed frame (the
    * reference hangs up on -1 from mqtt_handle_publish).
    */
  private def publish(stream: PushStream[(String, Int, Long)], frame: Array[Byte], flags: Int,
                      out: OutputStream): Boolean = {
    val qos = (flags >> 1) & 0x03
    if (frame.length < 2) return false
    val tlen = ((frame(0) & 0xff) << 8) | (frame(1) & 0xff)
    var pos = 2
    if (tlen > frame.length - pos) return false
    val topic = new String(frame, pos, tlen, StandardCharsets.UTF_8)
    pos += tlen
    if (qos > 0) {
      if (frame.length - pos < 2) return false
      val idHi = frame(pos); val idLo = frame(pos + 1)
      pos += 2
      val reply = if (qos == 1) PUBACK else PUBREC
      out.write(Array[Byte]((reply << 4).toByte, 2, idHi, idLo))
      out.flush()
    }
    val payload = util.Arrays.copyOfRange(frame, pos, frame.length)
    // non-map payloads are dropped, not fatal (mqtt_data_append :125-131)
    if (isJsonObject(new String(payload, StandardCharsets.UTF_8)))
      stream.append(Segment.one((topic, qos, System.currentTimeMillis()), payload))
    true
  }
}
