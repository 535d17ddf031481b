package graft.perfbench

import java.nio.file.{Files, Paths}

/** Kernel TCP counters, read from outside the program: `ActiveOpens`
  * (connections this network namespace opened) from /proc/net/snmp and
  * `IpExt InOctets` (bytes received, loopback included) from
  * /proc/net/netstat. Both are namespace-wide, so a phase delta counts
  * every connection the client and the loopback servers make in it.
  */
object Net {
  final case class Counters(opens: Long, inOctets: Long) {
    def -(o: Counters): Counters =
      Counters(opens - o.opens, inOctets - o.inOctets)
  }

  // procfs reports size 0; read to EOF rather than by the stat size
  private def slurp(p: java.nio.file.Path): String = {
    val in = Files.newInputStream(p)
    try new String(in.readAllBytes(), "US-ASCII") finally in.close()
  }

  private def field(file: String, prefix: String, name: String): Long = {
    val p = Paths.get(file)
    if (!Files.isReadable(p)) return 0L
    val lines = slurp(p).split("\n").toSeq.filter(_.startsWith(prefix + ":"))
    if (lines.length < 2) return 0L
    val keys = lines(0).split("\\s+").drop(1)
    val vals = lines(1).split("\\s+").drop(1)
    val i = keys.indexOf(name)
    if (i < 0) 0L else vals(i).toLong
  }

  def read(): Counters = Counters(
    field("/proc/net/snmp", "Tcp", "ActiveOpens"),
    field("/proc/net/netstat", "IpExt", "InOctets"))

  /** Size of the ephemeral port range: the ceiling on connections a
    * client can hold, TIME_WAIT included, toward one server address.
    */
  def ephemeralPorts(): Int = {
    val p = Paths.get("/proc/sys/net/ipv4/ip_local_port_range")
    if (!Files.isReadable(p)) 28232
    else {
      val range = slurp(p).trim.split("\\s+").map(_.toInt)
      range(1) - range(0) + 1
    }
  }
}
