package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** IP / CIDR primitives for the network condition
  * (libbeat/conditions/network.go) and the add_network_direction processor
  * (libbeat/processors/actions/add_network_direction.go:66-120), plus the
  * dissect `|ip` type check.
  *
  * Addresses are normalized to 16 bytes (IPv4 mapped into the tail, the
  * `net.IP` 16-byte form). A matcher list is compiled ONCE at plan time into
  * (maskedBase, maskBits, isV4) triples + named-network predicate ids, so the
  * per-row work is byte compares — no string parsing of the network spec,
  * no allocation beyond the parsed address.
  */
object IpOps {

  /** Parse dotted-quad IPv4 or RFC-4291 IPv6 (with optional embedded v4
    * tail) into 16 bytes; null when invalid. Strict like Go `net.ParseIP`:
    * decimal octets 0-255 without leading zeros, hex groups ≤ 4 digits, one
    * `::` at most, no zone suffixes. */
  def parse(s: String): Array[Byte] = {
    if (s == null || s.isEmpty) return null
    if (s.indexOf(':') < 0) parseV4(s) else parseV6(s)
  }

  def isValidIp(s: String): Boolean = parse(s) != null

  def isV4(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 10) { if (b(i) != 0) return false; i += 1 }
    b(10) == -1 && b(11) == -1
  }

  private def parseV4(s: String): Array[Byte] = {
    val out = new Array[Byte](16)
    out(10) = -1; out(11) = -1
    var octet = 0
    var digits = 0
    var field = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '.') {
        if (digits == 0 || field == 3) return null
        out(12 + field) = octet.toByte
        field += 1; octet = 0; digits = 0
      } else if (c >= '0' && c <= '9') {
        if (digits > 0 && octet == 0) return null // leading zero
        octet = octet * 10 + (c - '0')
        if (octet > 255) return null
        digits += 1
      } else return null
      i += 1
    }
    if (digits == 0 || field != 3) return null
    out(12 + field) = octet.toByte
    out
  }

  private def parseV6(s: String): Array[Byte] = {
    // split on "::" (at most one)
    val dcol = s.indexOf("::")
    if (dcol >= 0 && s.indexOf("::", dcol + 1) >= 0) return null
    val (headStr, tailStr) =
      if (dcol < 0) (s, null)
      else (s.substring(0, dcol), s.substring(dcol + 2))

    def groups(part: String, v4Allowed: Boolean): Array[Int] = {
      if (part == null || part.isEmpty) return Array.empty
      val gs = part.split(":", -1)
      val out = new Array[Int](gs.length + 1) // possible v4 expansion
      var n = 0
      for ((g, gi) <- gs.zipWithIndex) {
        if (g.isEmpty) return null
        if (g.indexOf('.') >= 0) {
          // an embedded dotted quad is only legal as the LAST group of the
          // whole address (go net.ParseIP) — never in the head of a "::" form
          if (!v4Allowed || gi != gs.length - 1) return null
          val v4 = parseV4(g)
          if (v4 == null) return null
          out(n) = ((v4(12) & 0xff) << 8) | (v4(13) & 0xff); n += 1
          out(n) = ((v4(14) & 0xff) << 8) | (v4(15) & 0xff); n += 1
        } else {
          if (g.length > 4) return null
          var v = 0
          for (c <- g) {
            val d =
              if (c >= '0' && c <= '9') c - '0'
              else if (c >= 'a' && c <= 'f') c - 'a' + 10
              else if (c >= 'A' && c <= 'F') c - 'A' + 10
              else return null
            v = v * 16 + d
          }
          out(n) = v; n += 1
        }
      }
      java.util.Arrays.copyOf(out, n)
    }

    val head = groups(headStr, v4Allowed = dcol < 0)
    if (head == null) return null
    val tail = if (dcol < 0) Array.empty[Int] else groups(tailStr, v4Allowed = true)
    if (tail == null) return null
    val total = head.length + tail.length
    if (dcol < 0 && total != 8) return null
    if (dcol >= 0 && total > 7) return null // "::" must cover ≥1 group

    val out = new Array[Byte](16)
    for (i <- head.indices) {
      out(2 * i) = (head(i) >> 8).toByte; out(2 * i + 1) = head(i).toByte
    }
    for (i <- tail.indices) {
      val at = 8 - tail.length + i
      out(2 * at) = (tail(i) >> 8).toByte; out(2 * at + 1) = tail(i).toByte
    }
    out
  }

  // ---- named networks (network.go:45-57) ----------------------------------

  private def v4b(b: Array[Byte], i: Int): Int = b(12 + i) & 0xff

  def isLoopback(b: Array[Byte]): Boolean =
    if (isV4(b)) v4b(b, 0) == 127
    else b.slice(0, 15).forall(_ == 0) && b(15) == 1

  def isUnspecified(b: Array[Byte]): Boolean =
    if (isV4(b)) (12 to 15).forall(b(_) == 0)
    else b.forall(_ == 0)

  def isMulticast(b: Array[Byte]): Boolean =
    if (isV4(b)) (v4b(b, 0) & 0xf0) == 0xe0
    else (b(0) & 0xff) == 0xff

  def isInterfaceLocalMulticast(b: Array[Byte]): Boolean =
    !isV4(b) && (b(0) & 0xff) == 0xff && (b(1) & 0x0f) == 0x01

  def isLinkLocalMulticast(b: Array[Byte]): Boolean =
    if (isV4(b)) v4b(b, 0) == 224 && v4b(b, 1) == 0 && v4b(b, 2) == 0
    else (b(0) & 0xff) == 0xff && (b(1) & 0x0f) == 0x02

  def isLinkLocalUnicast(b: Array[Byte]): Boolean =
    if (isV4(b)) v4b(b, 0) == 169 && v4b(b, 1) == 254
    else (b(0) & 0xff) == 0xfe && (b(1) & 0xc0) == 0x80

  def isV4Broadcast(b: Array[Byte]): Boolean =
    isV4(b) && (12 to 15).forall(i => (b(i) & 0xff) == 255)

  def isGlobalUnicast(b: Array[Byte]): Boolean =
    !isV4Broadcast(b) && !isUnspecified(b) && !isLoopback(b) &&
      !isMulticast(b) && !isLinkLocalUnicast(b)

  /** RFC 1918 v4 + fd00::/8 (network.go:32-43). */
  def isPrivate(b: Array[Byte]): Boolean =
    if (isV4(b))
      v4b(b, 0) == 10 ||
        (v4b(b, 0) == 172 && (v4b(b, 1) & 0xf0) == 16) ||
        (v4b(b, 0) == 192 && v4b(b, 1) == 168)
    else (b(0) & 0xff) == 0xfd

  /** `!public` (network.go:225-233). */
  def isLocalOrPrivate(b: Array[Byte]): Boolean =
    isPrivate(b) || isLoopback(b) || isUnspecified(b) || isV4Broadcast(b) ||
      isLinkLocalUnicast(b) || isLinkLocalMulticast(b) ||
      isInterfaceLocalMulticast(b)

  // ---- compiled matcher ---------------------------------------------------

  sealed trait Matcher { def contains(ip: Array[Byte]): Boolean }

  private final case class Named(name: String) extends Matcher {
    def contains(ip: Array[Byte]): Boolean = name match {
      case "loopback"                  => isLoopback(ip)
      case "global_unicast"            => isGlobalUnicast(ip)
      case "unicast"                   => isGlobalUnicast(ip)
      case "link_local_unicast"        => isLinkLocalUnicast(ip)
      case "interface_local_multicast" => isInterfaceLocalMulticast(ip)
      case "link_local_multicast"      => isLinkLocalMulticast(ip)
      case "multicast"                 => isMulticast(ip)
      case "unspecified"               => isUnspecified(ip)
      case "private"                   => isPrivate(ip)
      case "public"                    => !isLocalOrPrivate(ip)
      case _                           => false
    }
  }

  /** CIDR: masked 16-byte base + prefix bits (v4 prefixes offset by 96).
    * A v4 network only matches v4 addresses, like `net.IPNet.Contains`. */
  private final case class Cidr(base: Array[Byte], bits: Int, v4: Boolean)
      extends Matcher {
    def contains(ip: Array[Byte]): Boolean = {
      if (v4 != isV4(ip)) return false
      var bit = if (v4) 96 else 0
      val until = (if (v4) 96 else 0) + bits
      while (bit < until) {
        val byteIdx = bit >> 3
        val mask = 0x80 >> (bit & 7)
        if ((base(byteIdx) & mask) != (ip(byteIdx) & mask)) return false
        bit += 1
      }
      true
    }
  }

  val NamedNetworks: Set[String] = Set("loopback", "global_unicast", "unicast",
    "link_local_unicast", "interface_local_multicast", "link_local_multicast",
    "multicast", "unspecified", "private", "public")

  /** Compile a network spec list (names and/or CIDRs); throws
    * IllegalArgumentException on a malformed CIDR — config-time, like the
    * reference (network.go:101-112). */
  def compileMatchers(networks: Seq[String]): Array[Matcher] =
    networks.map { n =>
      if (NamedNetworks.contains(n)) Named(n)
      else {
        val slash = n.indexOf('/')
        require(slash > 0, s"invalid network '$n': not a named network or CIDR")
        val ipPart = n.substring(0, slash)
        val ip = parse(ipPart)
        require(ip != null, s"invalid network '$n': bad address")
        val v4 = ipPart.indexOf(':') < 0
        val bits = n.substring(slash + 1).toInt
        require(bits >= 0 && bits <= (if (v4) 32 else 128),
          s"invalid network '$n': bad prefix length")
        Cidr(ip, bits, v4)
      }
    }.toArray

  def anyContains(matchers: Array[Matcher], ip: Array[Byte]): Boolean = {
    var i = 0
    while (i < matchers.length) {
      if (matchers(i).contains(ip)) return true
      i += 1
    }
    false
  }
}

/** `is_valid_ip(s)` → boolean: the string parses as a strict IPv4/IPv6
  * literal (Go `net.ParseIP` semantics — the convert processor's `ip` type
  * check and the dissect `|ip` suffix). */
case class IsValidIp(child: Expression) extends UnaryKernelExpression[UTF8String] {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "is_valid_ip"

  def evalInput(input: UTF8String): Boolean = IpOps.isValidIp(input.toString)

  override protected def withNewChildInternal(newChild: Expression): IsValidIp =
    copy(child = newChild)
}

/** `ip_in_networks(ip, networks...)` → boolean: true iff the string column
  * parses as an IP contained in ANY of the networks (named or CIDR) — the
  * `network` condition leaf (conditions/network.go:158-178; invalid IP →
  * false, like Check). */
case class IpInNetworks(child: Expression, networks: Seq[String])
    extends UnaryKernelExpression[UTF8String] {
  @transient private lazy val matchers = IpOps.compileMatchers(networks)
  IpOps.compileMatchers(networks) // plan-time config validation

  override def dataType: DataType = BooleanType
  override def prettyName: String = "ip_in_networks"

  def evalInput(input: UTF8String): Boolean = {
    val ip = IpOps.parse(input.toString)
    ip != null && IpOps.anyContains(matchers, ip)
  }

  override protected def withNewChildInternal(newChild: Expression): IpInNetworks =
    copy(child = newChild)
}

/** `network_direction(src_ip, dst_ip, internal_networks)` → string in
  * {internal, external, inbound, outbound}; NULL when either side is missing
  * or unparseable (the reference leaves the event untouched,
  * add_network_direction.go:67-106). */
case class NetworkDirection(left: Expression, right: Expression,
                            internalNetworks: Seq[String])
    extends BinaryKernelExpression[UTF8String, UTF8String] {
  @transient private lazy val matchers = IpOps.compileMatchers(internalNetworks)
  IpOps.compileMatchers(internalNetworks)

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "network_direction"

  private val Internal = UTF8String.fromString("internal")
  private val External = UTF8String.fromString("external")
  private val Inbound = UTF8String.fromString("inbound")
  private val Outbound = UTF8String.fromString("outbound")

  def evalInput(src: UTF8String, dst: UTF8String): UTF8String = {
    val s = IpOps.parse(src.toString)
    val d = IpOps.parse(dst.toString)
    if (s == null || d == null) return null
    val si = IpOps.anyContains(matchers, s)
    val di = IpOps.anyContains(matchers, d)
    if (si && di) Internal
    else if (si) Outbound
    else if (di) Inbound
    else External
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): NetworkDirection =
    copy(left = l, right = r)
}

/** Community ID v1 flow hash (libbeat/processors/communityid +
  * libbeat/common/flowhash/communityid.go:49-92): the canonical
  * `1:` + base64(sha1(seed₂ . saddr . daddr . proto . 0 . sport₂ . dport₂))
  * with endpoint ordering (smaller (ip, port) first, flow.go:88-91), v4
  * addresses hashed in 4-byte form (getRawIP), ports appended only for
  * TCP/UDP/SCTP/ICMP, and the ICMP type↔code port-equivalence tables
  * (flow.go:58-85) applied for protocols 1/58. Input is a struct column
  * `(src_ip, dst_ip, src_port, dst_port, protocol)` — for ICMP the port
  * slots carry (type, code). NULL on unparseable addresses, like the
  * processor's skipped events.
  */
object CommunityIdKernel {

  private val icmpV4 = Map(8 -> 0, 0 -> 8, 13 -> 14, 14 -> 13, 15 -> 16,
    10 -> 9, 9 -> 10, 17 -> 18, 18 -> 17)
  private val icmpV6 = Map(128 -> 129, 129 -> 128, 133 -> 134, 134 -> 133,
    136 -> 135, 135 -> 136, 130 -> 131, 139 -> 140, 140 -> 139,
    144 -> 145, 145 -> 144)

  private val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("SHA-1"))

  /** hashed byte form: 4 bytes for v4 (getRawIP), 16 for v6. */
  private def raw(b16: Array[Byte]): Array[Byte] =
    if (IpOps.isV4(b16)) java.util.Arrays.copyOfRange(b16, 12, 16) else b16

  def hash(srcIp: String, dstIp: String, srcPort: Int, dstPort: Int,
           proto: Int, seed: Int): UTF8String = {
    val s16 = IpOps.parse(srcIp)
    val d16 = IpOps.parse(dstIp)
    if (s16 == null || d16 == null) return null

    var sp = srcPort
    var dp = dstPort
    var oneWay = false
    val hasPorts = proto == 6 || proto == 17 || proto == 132 ||
      proto == 1 || proto == 58
    if (proto == 1 || proto == 58) {
      // ICMP: port slots are (type, code); map type→equivalent when known
      val table = if (proto == 1) icmpV4 else icmpV6
      table.get(srcPort) match {
        case Some(equiv) => dp = equiv
        case None        => oneWay = true
      }
    }

    // endpoint ordering over the 16-byte forms (flow.go:88-91)
    var (sb, db, sport, dport) = (s16, d16, sp, dp)
    if (!oneWay) {
      val cmp = java.util.Arrays.compareUnsigned(s16, d16)
      val sorted = cmp < 0 || (cmp == 0 && sp < dp)
      if (!sorted) { sb = d16; db = s16; sport = dp; dport = sp }
    }

    val md = digests.get()
    md.reset()
    md.update(((seed >> 8) & 0xff).toByte)
    md.update((seed & 0xff).toByte)
    md.update(raw(sb))
    md.update(raw(db))
    md.update(proto.toByte)
    md.update(0.toByte)
    if (hasPorts) {
      md.update(((sport >> 8) & 0xff).toByte)
      md.update((sport & 0xff).toByte)
      md.update(((dport >> 8) & 0xff).toByte)
      md.update((dport & 0xff).toByte)
    }
    UTF8String.fromString(
      "1:" + java.util.Base64.getEncoder.encodeToString(md.digest()))
  }
}

/** `community_id(struct(src_ip, dst_ip, src_port, dst_port, protocol))` →
  * the Community ID v1 flow hash string; NULL on bad addresses. */
case class CommunityId(child: Expression, seed: Int = 0)
    extends UnaryKernelExpression[InternalRow] {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "community_id"

  def evalInput(row: InternalRow): UTF8String = {
    if (row.isNullAt(0) || row.isNullAt(1) || row.isNullAt(2) ||
      row.isNullAt(3) || row.isNullAt(4)) return null
    CommunityIdKernel.hash(row.getUTF8String(0).toString,
      row.getUTF8String(1).toString, row.getInt(2), row.getInt(3),
      row.getInt(4), seed)
  }

  override protected def withNewChildInternal(newChild: Expression): CommunityId =
    copy(child = newChild)
}
