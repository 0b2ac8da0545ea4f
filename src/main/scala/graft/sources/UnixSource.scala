package graft.sources

import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.channels.{ServerSocketChannel, SocketChannel}
import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Unix-domain-socket push source — the analogue of the reference's
  * `plugins/in_unix_socket` (stream mode, `unix_socket.c` +
  * `unix_socket_conn.c`): local peers connect to a filesystem socket
  * path and push newline-framed records. The framing, rows and core are
  * [[TcpServerSource]]'s; only the transport differs (JDK 16+
  * `StandardProtocolFamily.UNIX` channels). A pre-existing socket file
  * is unlinked before bind, like the reference's server setup does for
  * stale sockets.
  *
  * Usage: `spark.readStream.format("graft.sources.UnixServerSource")
  * .option("path", "/tmp/app.sock").load()` → rows (value STRING,
  * ts TIMESTAMP).
  */
class UnixServerSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TcpServerSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("unix source requires option 'path'"))
    new PushTable(s"unix://$path", TcpServerSource.Schema, TcpServerSource.Lines)(stream => {
      val file = Paths.get(path)
      // Stale-socket check before unlink (the reference probes the path
      // the same way): if a connect succeeds, a live server owns this
      // path — unlinking would silently steal its subsequent connections.
      if (Files.exists(file)) {
        val live =
          try { SocketChannel.open(UnixDomainSocketAddress.of(path)).close(); true }
          catch { case _: java.io.IOException => false }
        if (live)
          throw new IllegalStateException(s"unix source: a live server is already bound at $path")
        Files.deleteIfExists(file) // stale socket from a dead server
      }
      val server = stream.closeOnStop(ServerSocketChannel.open(StandardProtocolFamily.UNIX))
      server.bind(UnixDomainSocketAddress.of(path))
      stream.closeOnStop[java.io.Closeable](() => Files.deleteIfExists(file))
      stream.serve(server, "unix")((in, _) => TcpServerSource.lines(in, stream))
    })
  }
}
