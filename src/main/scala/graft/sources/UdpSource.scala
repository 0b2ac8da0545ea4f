package graft.sources

import java.net.{DatagramPacket, DatagramSocket, InetSocketAddress}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** UDP datagram push source — the analogue of the reference's
  * `plugins/in_udp` (and the transport under `in_syslog`'s udp mode,
  * the legacy BSD-syslog framing still emitted by routers and
  * appliances). Each datagram's payload is split on newlines into
  * records, empty lines dropped (a bare RFC3164 message is one datagram
  * = one line); the sender address is surfaced like in_udp's
  * `source_address_key`.
  *
  * Rows: (value STRING, peer STRING, ts TIMESTAMP). Each datagram is one
  * [[PushSource]] segment, with the same at-most-once ingest-edge
  * contract as [[TcpServerSource]] — UDP itself is fire-and-forget, so
  * dropped datagrams are a transport property, not an engine one.
  */
class UdpServerSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    UdpServerSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val port = Option(properties.get("port")).map(_.toInt).getOrElse(
      throw new IllegalArgumentException("udp source requires option 'port'"))
    val host = Option(properties.get("host")).getOrElse("127.0.0.1")
    // body=raw keeps each datagram intact as ONE base64 row — the
    // ingest shape for binary payloads (collectd network protocol)
    val rawBody = Option(properties.get("body")).exists(_ == "raw")
    new PushTable(s"udp://$host:$port", UdpServerSource.Schema,
        UdpServerSource.Rows(rawBody))(stream => {
      val socket = stream.closeOnStop(new DatagramSocket(new InetSocketAddress(host, port)))
      val data = new Array[Byte](UdpServerSource.MaxDatagram)
      stream.loop(s"graft-udp-receive-$port") {
        val packet = new DatagramPacket(data, data.length)
        socket.receive(packet)
        val seg = new Segment.Builder
        val (from, until) = (packet.getOffset, packet.getOffset + packet.getLength)
        if (rawBody) seg.add(data, from, until) else seg.addLines(data, from, until)
        stream.append(seg.result((packet.getAddress.getHostAddress, System.currentTimeMillis())))
      }
    })
  }
}

object UdpServerSource {
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("peer", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))

  /** in_udp's default buffer_max_size is 64 KiB — the UDP payload cap. */
  val MaxDatagram: Int = 65536

  /** A line, or with `body=raw` the whole datagram as base64, under its
    * datagram's (peer, ms).
    */
  private[sources] final case class Rows(raw: Boolean) extends EntryDecoder[(String, Long)] {
    override def row(head: (String, Long), b: Array[Byte], from: Int, until: Int): InternalRow =
      InternalRow(if (raw) PushSource.base64(b, from, until) else PushSource.text(b, from, until),
        UTF8String.fromString(head._1), head._2 * 1000L)
  }
}
