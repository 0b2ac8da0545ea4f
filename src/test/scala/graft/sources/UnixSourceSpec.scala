package graft.sources

import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.channels.ServerSocketChannel
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceStreams.withStream

/** Socket-path lifecycle of the unix-domain push source: a live listener
  * must never be unlinked (the reference probes the path with a connect
  * before removing what it assumes is a stale socket), while a genuinely
  * stale file from a dead server is reclaimed.
  */
class UnixSourceSpec extends AnyFunSuite {

  test("live server on the path: construction fails fast, socket survives") {
    val dir = Files.createTempDirectory("graft-unix-live")
    val path = dir.resolve("live.sock").toString
    val server = ServerSocketChannel.open(StandardProtocolFamily.UNIX)
    server.bind(UnixDomainSocketAddress.of(path))
    try {
      intercept[IllegalStateException] { withStream(new UnixServerSource, "path" -> path)(_ => ()) }
      assert(Files.exists(Paths.get(path)), "live socket must not be unlinked")
    } finally {
      server.close()
      Files.deleteIfExists(Paths.get(path))
    }
  }

  test("stale socket file from a dead server is reclaimed") {
    val dir = Files.createTempDirectory("graft-unix-stale")
    val path = dir.resolve("stale.sock").toString
    // bind then close without unlink — the file stays behind, nobody listens
    val dead = ServerSocketChannel.open(StandardProtocolFamily.UNIX)
    dead.bind(UnixDomainSocketAddress.of(path))
    dead.close()
    assert(Files.exists(Paths.get(path)))
    withStream(new UnixServerSource, "path" -> path) { _ =>
      assert(Files.exists(Paths.get(path)), "rebound on the reclaimed path")
    }
  }
}
