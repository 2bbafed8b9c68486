package graft.substrait

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.{ArrayBuffer, ListBuffer}

import model._

/** The protobuf layer under [[Wire]]: byte framing (`W`, `R`) and the few
  * combinators the Substrait message table is declared with. A message lists
  * its fields once — number, name, codec, cardinality, default — and both
  * its writer and its reader are derived from that list, so no field number
  * or default exists twice. Any failure while reading surfaces from
  * [[decode]] as one [[WireDecodeError]] naming the byte offset and the
  * field path.
  */
private[substrait] object WireCodec {

  // ------------------------------------------------------------------ writer
  /** `depth` counts message nesting exactly as the reader does: a
    * sub-message one level deeper, an extension detail payload at its Any's
    * level, a nested iteration body plan one level below its detail. The
    * bytes go to a plain growable array: a `ByteArrayOutputStream` takes its
    * monitor once per byte written. */
  final class W(val depth: Int) {
    private var buf = new Array[Byte](256)
    private var n = 0
    private def room(k: Int): Unit =
      if (k > buf.length - n) buf = Arrays.copyOf(buf, math.max(buf.length * 2, n + k))
    private def byte(b: Int): Unit = { room(1); buf(n) = b.toByte; n += 1 }
    /** `len` bytes of `a` from `off`, as they are. */
    def raw(a: Array[Byte], off: Int, len: Int): Unit = {
      room(len); System.arraycopy(a, off, buf, n, len); n += len
    }
    def toByteArray: Array[Byte] = Arrays.copyOf(buf, n)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { byte(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      byte(v.toInt)
    }
    def tag(field: Int, wt: Int): Unit = varint((field.toLong << 3) | wt)
    def int64(f: Int, v: Long): Unit = { tag(f, 0); varint(v) }
    /** proto int32: negative values sign-extend to 10-byte varints. */
    def int32(f: Int, v: Int): Unit = { tag(f, 0); varint(v.toLong) }
    def bool(f: Int, v: Boolean): Unit = { tag(f, 0); varint(if (v) 1 else 0) }
    def fixed32(f: Int, v: Int): Unit = {
      tag(f, 5)
      byte(v & 0xff); byte((v >>> 8) & 0xff)
      byte((v >>> 16) & 0xff); byte((v >>> 24) & 0xff)
    }
    def fixed64(f: Int, v: Long): Unit = {
      tag(f, 1)
      var i = 0; while (i < 8) { byte(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def bytes(f: Int, v: Array[Byte]): Unit = { tag(f, 2); varint(v.length.toLong); raw(v, 0, v.length) }
    def str(f: Int, v: String): Unit = bytes(f, v.getBytes(UTF_8))
    def msg(f: Int, body: W => Unit): Unit = {
      if (depth >= Wire.MaxNestingDepth)
        internalErr(s"message nesting deeper than ${Wire.MaxNestingDepth}")
      val w = new W(depth + 1); body(w)
      tag(f, 2); varint(w.n.toLong); raw(w.buf, 0, w.n)
    }
  }

  // ------------------------------------------------------------------ reader
  final class R(val buf: Array[Byte], var pos: Int, val end: Int,
                val depth: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        if (pos >= end) internalErr("truncated varint")
        val b = buf(pos); pos += 1
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
        if (shift > 63) internalErr("varint overflow")
      }
      v
    }
    def fixed32(): Int = {
      checkLen(4)
      val v = (buf(pos) & 0xff) | ((buf(pos + 1) & 0xff) << 8) |
        ((buf(pos + 2) & 0xff) << 16) | ((buf(pos + 3) & 0xff) << 24)
      pos += 4; v
    }
    def fixed64(): Long = {
      checkLen(8)
      var v = 0L; var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; v
    }
    private def checkLen(len: Int): Unit =
      if (len < 0 || len > end - pos) internalErr(s"truncated message: need $len bytes, have ${end - pos}")
    /** A length prefix, bounded while still a Long: `toInt` first would
      * wrap 2^32 + k to k and mis-parse the rest of the message. */
    private def length(): Int = {
      val len = varint()
      if (len < 0 || len > end - pos)
        internalErr(s"truncated message: length $len at byte offset $pos, have ${end - pos}")
      len.toInt
    }
    def lenDelim(): R = {
      if (depth >= Wire.MaxNestingDepth)
        internalErr(s"message nesting deeper than ${Wire.MaxNestingDepth} at byte offset $pos")
      val len = length()
      val r = new R(buf, pos, pos + len, depth + 1); pos += len; r
    }
    /** A length-delimited value as a reader over the same bytes at `depth`:
      * offsets met while reading it stay offsets in the input. */
    def window(depth: Int): R = {
      val len = length()
      val r = new R(buf, pos, pos + len, depth); pos += len; r
    }
    def rawBytes(): Array[Byte] = {
      val len = length()
      val a = Arrays.copyOfRange(buf, pos, pos + len); pos += len; a
    }
    def str(): String = {
      val len = length()
      val s = new String(buf, pos, len, UTF_8); pos += len; s
    }
    def skip(wt: Int): Unit = wt match {
      case 0 => varint()
      case 1 => fixed64()
      case 2 => val len = length(); pos += len
      case 5 => fixed32()
      case _ => internalErr(s"unknown wire type $wt")
    }
  }

  // ------------------------------------------------------------ value codecs
  /** How one value sits on the wire: its wire type, how it is written as
    * field `f`, and how it is read from a reader positioned at the value. */
  abstract class Codec[A](val wt: Int) { self =>
    def write(w: W, f: Int, a: A): Unit
    def read(r: R): A
    /** The same wire form, seen as a `B`. */
    def map[B](mk: A => B)(un: B => A): Codec[B] = new Codec[B](wt) {
      def write(w: W, f: Int, b: B): Unit = self.write(w, f, un(b))
      def read(r: R): B = mk(self.read(r))
    }
  }

  /** int32, uint32 and enums share one varint form. */
  val int32: Codec[Int] = new Codec[Int](0) {
    def write(w: W, f: Int, v: Int): Unit = w.int32(f, v)
    def read(r: R): Int = r.varint().toInt
  }
  val int64: Codec[Long] = new Codec[Long](0) {
    def write(w: W, f: Int, v: Long): Unit = w.int64(f, v)
    def read(r: R): Long = r.varint()
  }
  val bool: Codec[Boolean] = new Codec[Boolean](0) {
    def write(w: W, f: Int, v: Boolean): Unit = w.bool(f, v)
    def read(r: R): Boolean = r.varint() == 1L
  }
  val fp32: Codec[Float] = new Codec[Float](5) {
    def write(w: W, f: Int, v: Float): Unit = w.fixed32(f, java.lang.Float.floatToIntBits(v))
    def read(r: R): Float = java.lang.Float.intBitsToFloat(r.fixed32())
  }
  val fp64: Codec[Double] = new Codec[Double](1) {
    def write(w: W, f: Int, v: Double): Unit = w.fixed64(f, java.lang.Double.doubleToLongBits(v))
    def read(r: R): Double = java.lang.Double.longBitsToDouble(r.fixed64())
  }
  val string: Codec[String] = new Codec[String](2) {
    def write(w: W, f: Int, v: String): Unit = w.str(f, v)
    def read(r: R): String = r.str()
  }
  val bytes: Codec[Array[Byte]] = new Codec[Array[Byte]](2) {
    def write(w: W, f: Int, v: Array[Byte]): Unit = w.bytes(f, v)
    def read(r: R): Array[Byte] = r.rawBytes()
  }

  /** A whole message carried in a bytes field, one nesting level down. */
  def embedded[T](m: => Msg[T]): Codec[T] = new Codec[T](2) {
    def write(w: W, f: Int, v: T): Unit = w.bytes(f, m.toBytes(v, w.depth + 1))
    def read(r: R): T = m.readAll(r.window(r.depth + 1))
  }

  /** A bytes field kept as a window on the input rather than copied, so a
    * payload decoded from it later reports offsets in the input. */
  private val payload: Codec[R] = new Codec[R](2) {
    def write(w: W, f: Int, v: R): Unit = {
      w.tag(f, 2); w.varint((v.end - v.pos).toLong); w.raw(v.buf, v.pos, v.end - v.pos)
    }
    def read(r: R): R = r.window(r.depth)
  }
  private def whole(b: Array[Byte], depth: Int): R = new R(b, 0, b.length, depth)

  /** Remembers, per key, which of several alternatives serves a value: the
    * first whose `un` is defined at the first value seen with that key. A
    * key must therefore fix the alternative. */
  private final class Picker[T, B <: AnyRef](alts: => Seq[B], un: B => PartialFunction[T, Any]) {
    private val byKey = new ConcurrentHashMap[Any, B]()
    /** The alternative for `v`, or null if none has a form for it. */
    def apply(key: Any, v: T): B = {
      val hit = byKey.get(key)
      if (hit != null) hit
      else alts.find(un(_).isDefinedAt(v)) match {
        case Some(b) => byKey.put(key, b); b
        case None => null.asInstanceOf[B]
      }
    }
  }

  // ------------------------------------------------------------------ fields
  /** Marks a field not seen yet while its message is read. */
  private object Unset
  private def isSet(acc: Any): Boolean = acc.asInstanceOf[AnyRef] ne Unset
  private def missing: Nothing = internalErr("missing required field")

  /** One entry of a message declaration: a field, or a oneof over several
    * fields. Reading folds each occurrence into an accumulator that starts
    * `Unset`; `done` turns it into the value when the message ends. */
  abstract class Part[V](val name: String) {
    def nums: Seq[Int]
    def accepts(num: Int, wt: Int): Boolean
    def read(r: R, num: Int, wt: Int, acc: Any): Any
    def done(acc: Any): V
    def write(w: W, v: V): Unit
    /** The field path segment of an occurrence of `num`. */
    def seg(num: Int, acc: Any): String = name
  }

  private abstract class Field[A, V](num: Int, name: String, codec: => Codec[A])
      extends Part[V](name) {
    lazy val c: Codec[A] = codec
    def nums: Seq[Int] = Seq(num)
    def accepts(n: Int, wt: Int): Boolean = wt == c.wt
    def read(r: R, n: Int, wt: Int, acc: Any): Any = c.read(r)
  }

  /** A singular field the message cannot do without. */
  def req[A](num: Int, name: String, codec: => Codec[A]): Part[A] =
    new Field[A, A](num, name, codec) {
      def done(acc: Any): A = if (isSet(acc)) acc.asInstanceOf[A] else missing
      def write(w: W, a: A): Unit = c.write(w, num, a)
    }

  /** A singular field read as `default` when absent. It is always written,
    * unless `omitDefault` drops it at its default (proto3 canonical form). */
  def field[A](num: Int, name: String, codec: => Codec[A], default: A,
               omitDefault: Boolean = false): Part[A] =
    new Field[A, A](num, name, codec) {
      def done(acc: Any): A = if (isSet(acc)) acc.asInstanceOf[A] else default
      def write(w: W, a: A): Unit = if (!omitDefault || a != default) c.write(w, num, a)
    }

  def opt[A](num: Int, name: String, codec: => Codec[A]): Part[Option[A]] =
    new Field[A, Option[A]](num, name, codec) {
      def done(acc: Any): Option[A] = if (isSet(acc)) Some(acc.asInstanceOf[A]) else None
      def write(w: W, a: Option[A]): Unit = a.foreach(c.write(w, num, _))
    }

  /** A repeated field, written unpacked; a scalar one also reads packed. */
  def rep[A](num: Int, name: String, codec: => Codec[A]): Part[Seq[A]] =
    new Field[A, Seq[A]](num, name, codec) {
      override def accepts(n: Int, wt: Int): Boolean = wt == c.wt || (wt == 2 && c.wt != 2)
      override def read(r: R, n: Int, wt: Int, acc: Any): Any = {
        val b = if (isSet(acc)) acc.asInstanceOf[ListBuffer[A]] else ListBuffer.empty[A]
        if (wt == c.wt) b += c.read(r)
        else { val packed = r.lenDelim(); while (packed.hasMore) b += c.read(packed) }
        b
      }
      override def seg(n: Int, acc: Any): String =
        s"${this.name}[${if (isSet(acc)) acc.asInstanceOf[ListBuffer[A]].length else 0}]"
      def done(acc: Any): Seq[A] = if (isSet(acc)) acc.asInstanceOf[ListBuffer[A]].toList else Nil
      def write(w: W, a: Seq[A]): Unit = a.foreach(c.write(w, num, _))
    }

  /** A oneof: each branch, declared with `br` in the body, is one field
    * carrying one case of `T`. `mk` builds the case from the field's value;
    * `un` takes the field's value back out, and is defined exactly at the
    * values written through its branch. Which branch that is follows from
    * `key(v)` — the value's class unless overridden — and is looked up, not
    * searched, once a key has been seen. Absent, the oneof reads as
    * `default`, or fails when it has none. */
  abstract class OneOf[T](name: String, default: Option[T] = None) extends Part[T](name) {
    private final class Branch(val num: Int, val name: String, codec: => Codec[Any],
                               val mk: Any => T, val un: PartialFunction[T, Any]) {
      lazy val c: Codec[Any] = codec
    }
    private val declared = ArrayBuffer.empty[Branch]
    protected def br[A](num: Int, name: String, codec: => Codec[A])(mk: A => T)(
        un: PartialFunction[T, A]): Unit =
      declared += new Branch(num, name, codec.asInstanceOf[Codec[Any]],
        mk.asInstanceOf[Any => T], un)

    private lazy val branches: Array[Branch] = declared.toArray
    private lazy val byNum: Array[Branch] = {
      val a = new Array[Branch](branches.map(_.num).max + 1)
      branches.foreach(b => a(b.num) = b)
      a
    }
    def nums: Seq[Int] = branches.map(_.num).toSeq
    def accepts(num: Int, wt: Int): Boolean = byNum(num).c.wt == wt
    def read(r: R, num: Int, wt: Int, acc: Any): Any = {
      val b = byNum(num); b.mk(b.c.read(r))
    }
    override def seg(num: Int, acc: Any): String = byNum(num).name
    def done(acc: Any): T =
      if (isSet(acc)) acc.asInstanceOf[T] else default.getOrElse(missing)
    /** What fixes a value's branch: values with equal keys take one branch. */
    protected def key(v: T): Any = v.asInstanceOf[AnyRef].getClass
    private val pick = new Picker[T, Branch](branches.toSeq, _.un)
    def write(w: W, v: T): Unit = {
      val b = pick(key(v), v)
      val x = if (b == null) NoMatch else b.un.applyOrElse(v, NoMatch)
      if (x.asInstanceOf[AnyRef] eq NoMatch) notImplemented(s"$name has no wire form for $v")
      b.c.write(w, b.num, x)
    }
  }
  private object NoMatch extends (Any => Any) { def apply(v: Any): Any = this }

  /** google.protobuf.Any{type_url=1, value=2} whose value is one of the
    * messages declared with `detail` in the body, keyed by its type URL;
    * `mk`/`un` are as for a oneof branch, and the value's class fixes its
    * detail. The value message sits at the Any's own nesting level. */
  abstract class AnyOf[T](what: String) extends Codec[T](2) {
    private final class Detail(val url: String, m: => Msg[Any], val mk: Any => T,
                               val un: PartialFunction[T, Any]) {
      lazy val msg: Msg[Any] = m
    }
    private val details = ArrayBuffer.empty[Detail]
    protected def detail[A](url: String, m: => Msg[A])(mk: A => T)(
        un: PartialFunction[T, A]): Unit =
      details += new Detail(url, m.asInstanceOf[Msg[Any]], mk.asInstanceOf[Any => T], un)
    private lazy val any = msg(field(1, "type_url", string, ""),
      field(2, "value", payload, whole(Array.emptyByteArray, 0)))
    private val pick = new Picker[T, Detail](details.toSeq, _.un)

    def covers(v: T): Boolean = pick(v.asInstanceOf[AnyRef].getClass, v) != null
    def write(w: W, f: Int, v: T): Unit = {
      val d = pick(v.asInstanceOf[AnyRef].getClass, v)
      if (d == null) notImplemented(s"$what has no wire form for $v")
      any.write(w, f, (d.url, whole(d.msg.toBytes(d.un(v), w.depth + 1), 0)))
    }
    def read(r: R): T = {
      val (url, value) = any.read(r)
      val d = details.find(_.url == url)
        .getOrElse(notImplemented(s"$what with foreign detail '$url'"))
      val start = value.pos
      try d.mk(d.msg.readAll(value))
      catch { case e: RuntimeException => throw trail(e, start, "value") }
    }
  }

  // ---------------------------------------------------------------- messages
  /** A message: its parts in writing order, and the maps between the
    * parts' values and `T`. Fields in `rejects` fail the read loudly. */
  final class Msg[T] private[WireCodec] (parts0: Seq[Part[_]], mk: Array[Any] => T,
                                         un: T => Any,
                                         rejects: Map[Int, String] = Map.empty)
      extends Codec[T](2) {
    private val parts = parts0.map(_.asInstanceOf[Part[Any]]).toArray
    private lazy val index: Array[Int] = {
      val nums = parts.toSeq.flatMap(_.nums) ++ rejects.keys
      val a = Array.fill((0 +: nums).max + 1)(-1)
      for (i <- parts.indices; n <- parts(i).nums) {
        if (a(n) != -1) internalErr(s"field $n declared twice")
        a(n) = i
      }
      rejects.keys.foreach(a(_) = Rejected)
      a
    }

    def reject(nums: Int*)(what: String): Msg[T] =
      new Msg(parts0, mk, un, rejects ++ nums.map(_ -> what))
    override def map[B](mk2: T => B)(un2: B => T): Msg[B] =
      new Msg[B](parts0, a => mk2(mk(a)),
        if (un eq Same) un2 else b => un(un2(b)), rejects)

    def write(w: W, f: Int, v: T): Unit = w.msg(f, writeBody(_, v))
    def read(r: R): T = readBody(r.lenDelim())
    def toBytes(v: T, depth: Int): Array[Byte] = {
      val w = new W(depth); writeBody(w, v); w.toByteArray
    }
    /** Reads the whole of `r` as one message. */
    def readAll(r: R): T = readBody(r)

    /** `un` gives a single part's value itself, several parts' as a tuple;
      * `Same` when `T` already is that. */
    private def writeBody(w: W, v: T): Unit =
      if (parts.length == 1) parts(0).write(w, if (un eq Same) v else un(v))
      else if (parts.length > 1) {
        val p = (if (un eq Same) v else un(v)).asInstanceOf[Product]
        var i = 0
        while (i < parts.length) { parts(i).write(w, p.productElement(i)); i += 1 }
      }

    private def readBody(r: R): T = {
      val start = r.pos
      val acc = new Array[Any](parts.length)
      Arrays.fill(acc.asInstanceOf[Array[AnyRef]], Unset)
      while (r.hasMore) {
        val at = r.pos; var i = -1; var num = 0
        try {
          val t = r.varint(); num = (t >>> 3).toInt; val wt = (t & 7).toInt
          i = if (num > 0 && num < index.length) index(num) else -1
          if (i == Rejected) notImplemented(rejects(num))
          if (i >= 0 && parts(i).accepts(num, wt)) acc(i) = parts(i).read(r, num, wt, acc(i))
          else { i = -1; r.skip(wt) }
        } catch {
          case e: RuntimeException =>
            throw trail(e, at, if (i >= 0) parts(i).seg(num, acc(i)) else null)
        }
      }
      var i = 0
      try {
        while (i < parts.length) { acc(i) = parts(i).done(acc(i)); i += 1 }
        i = -1
        mk(acc)
      } catch {
        case e: RuntimeException => throw trail(e, start, if (i >= 0) parts(i).name else null)
      }
    }
  }
  private final val Rejected = -2
  private val Same: Any => Any = v => v

  def msg(): Msg[Unit] = new Msg[Unit](Nil, _ => (), Same)
  def msg[A](a: Part[A]): Msg[A] = new Msg[A](Seq(a), s => s(0).asInstanceOf[A], Same)
  def msg[A, B](a: Part[A], b: Part[B]): Msg[(A, B)] =
    new Msg[(A, B)](Seq(a, b), s => (s(0), s(1)).asInstanceOf[(A, B)], Same)
  def msg[A, B, C](a: Part[A], b: Part[B], c: Part[C]): Msg[(A, B, C)] =
    new Msg[(A, B, C)](Seq(a, b, c), s => (s(0), s(1), s(2)).asInstanceOf[(A, B, C)],
      Same)
  def msg[A, B, C, D](a: Part[A], b: Part[B], c: Part[C], d: Part[D]): Msg[(A, B, C, D)] =
    new Msg[(A, B, C, D)](Seq(a, b, c, d),
      s => (s(0), s(1), s(2), s(3)).asInstanceOf[(A, B, C, D)], Same)
  def msg[A, B, C, D, E](a: Part[A], b: Part[B], c: Part[C], d: Part[D],
                         e: Part[E]): Msg[(A, B, C, D, E)] =
    new Msg[(A, B, C, D, E)](Seq(a, b, c, d, e),
      s => (s(0), s(1), s(2), s(3), s(4)).asInstanceOf[(A, B, C, D, E)], Same)
  def msg[A, B, C, D, E, F](a: Part[A], b: Part[B], c: Part[C], d: Part[D], e: Part[E],
                            f: Part[F]): Msg[(A, B, C, D, E, F)] =
    new Msg[(A, B, C, D, E, F)](Seq(a, b, c, d, e, f),
      s => (s(0), s(1), s(2), s(3), s(4), s(5)).asInstanceOf[(A, B, C, D, E, F)], Same)
  def msg[A, B, C, D, E, F, G](a: Part[A], b: Part[B], c: Part[C], d: Part[D], e: Part[E],
                               f: Part[F], g: Part[G]): Msg[(A, B, C, D, E, F, G)] =
    new Msg[(A, B, C, D, E, F, G)](Seq(a, b, c, d, e, f, g),
      s => (s(0), s(1), s(2), s(3), s(4), s(5), s(6)).asInstanceOf[(A, B, C, D, E, F, G)],
      Same)

  // ------------------------------------------------------------------ errors
  /** A read failure on its way out: the innermost byte offset, and the field
    * path gathered one segment per message while unwinding. Stackless — the
    * failure itself is its `cause`. */
  private final class Trail(cause: SubstraitException, val offset: Int)
      extends RuntimeException(null, cause, false, false) {
    var path: List[String] = Nil
    def error(root: String): WireDecodeError = {
      val e = new WireDecodeError(offset, (root :: path).mkString("."), cause.getMessage)
      e.initCause(cause); e
    }
  }

  /** Adds the segment `seg` (if any) to the path of a failure raised at
    * byte `at`; anything but a Substrait failure passes through as is. */
  private def trail(e: RuntimeException, at: Int, seg: String): RuntimeException = {
    val t = e match {
      case t: Trail => t
      case s: SubstraitException => new Trail(s, at)
      case other => return other
    }
    if (seg != null) t.path = seg :: t.path
    t
  }

  /** Reads `bytes` as a whole `m` message, its field paths rooted at `root`. */
  def decode[T](m: Msg[T], bytes: Array[Byte], root: String): T =
    try m.readAll(whole(bytes, 0))
    catch { case t: Trail => throw t.error(root) }
}
