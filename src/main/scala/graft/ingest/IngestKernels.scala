package graft.ingest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Schemas

/** The ingest fast path: a codegen'd Catalyst expression that reads a
  * send.py line's class and event-time string straight from its UTF-8
  * bytes.
  *
  * It is a *certain-or-defer* kernel: it returns a value only when that
  * provably equals what `from_json` returns for the same input, and null
  * otherwise. [[Ingest]] composes it as `coalesce(kernel, from_json)`, so
  * a deferred record is decided by `from_json` exactly as before, and the
  * kernel changes speed, never results.
  *
  * Generated code calls the scanner through the expression itself,
  * registered as a typed reference (not `CodegenFallback`, which would
  * keep the whole projection out of whole-stage codegen). A typed field,
  * unlike a qualified static call such as
  * `graft.ingest.IngestKernels.scan(...)`, makes Janino look up no class
  * that does not exist: it probes each prefix of a qualified name as a
  * class, and on an executor every failed probe is a class fetch from the
  * driver, paid on each compile (streaming recompiles the projection
  * every micro-batch, since the batch time is inlined as a literal).
  */
object IngestKernels {

  /** `from_json(line, Schemas.geojsonPruned)` for strict, escape-free
    * JSON, else null (defer).
    *
    * One pass over the line's bytes in place validates RFC 8259 JSON and
    * picks out `properties.RECEIVED_ON` and `properties.N02_001`; only
    * those two strings are copied. It defers on:
    *  - a backslash escape, or a byte < 0x20 or >= 0x80, in any string;
    *  - a second `properties`, `RECEIVED_ON` or `N02_001` key;
    *  - a target value that is not a string or null, `properties` that is
    *    not an object or null, a root that is not an object;
    *  - nesting deeper than 64, a number longer than 100 characters, a
    *    line longer than 32 KiB;
    *  - anything but whitespace after the root object; empty input.
    * Spark's default JSON options only loosen RFC JSON (single quotes,
    * `NaN`, ...) and its Jackson limits lie above these bounds, so every
    * line accepted here parses to the same two values under `from_json`.
    */
  case class GeoJsonFields(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expects string, got ${t.catalogString}")
    }
    override def dataType: DataType = Schemas.geojsonPruned
    override def nullable: Boolean = true
    override def nullSafeEval(line: Any): Any = scan(line.asInstanceOf[UTF8String])
    def scan(line: UTF8String): InternalRow = {
      val n = line.numBytes
      if (n == 0 || n > MaxLineBytes) null
      else new GeoJsonScan(line.getBaseObject, line.getBaseOffset, line.getBaseOffset + n).run()
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val kernel = ctx.addReferenceObj("geoJsonFields", this)
      nullSafeCodeGen(ctx, ev, line => s"""
        ${ev.value} = $kernel.scan($line);
        ${ev.isNull} = ${ev.value} == null;""")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  private final val MaxDepth = 64
  private final val MaxNumberChars = 100
  private final val MaxLineBytes = 32 * 1024

  private val PropertiesKey = "properties".getBytes("US-ASCII")
  private val ReceivedOnKey = "RECEIVED_ON".getBytes("US-ASCII")
  private val ClassKey = "N02_001".getBytes("US-ASCII")
  private val NullLit = "null".getBytes("US-ASCII")
  private val TrueLit = "true".getBytes("US-ASCII")
  private val FalseLit = "false".getBytes("US-ASCII")

  // object kinds: the root, the root's `properties` object, any other
  private final val Root = 0
  private final val Props = 1
  private final val Other = 2
  // `seen` bits: keys met once already
  private final val SeenProps = 1
  private final val SeenRecv = 2
  private final val SeenClass = 4

  /** One line's scan over `[start, end)` of `base`; every method returns
    * false as soon as the line is not certain. */
  private final class GeoJsonScan(base: AnyRef, start: Long, end: Long) {
    private var pos = start
    private var seen = 0
    private var propsObject = false
    private var recvFrom, recvTo, classFrom, classTo = -1L

    /** The byte at `p`, or -1 past the end (matches no token). */
    private def at(p: Long): Int = if (p < end) Platform.getByte(base, p) else -1

    def run(): InternalRow = {
      ws()
      if (at(pos) != '{' || !obj(1, Root)) return null
      ws()
      if (pos != end) return null
      val props =
        if (propsObject) new GenericInternalRow(Array[Any](str(recvFrom, recvTo), str(classFrom, classTo)))
        else null
      new GenericInternalRow(Array[Any](props))
    }

    private def str(from: Long, to: Long): UTF8String =
      if (from < 0) null
      else {
        val bytes = new Array[Byte]((to - from).toInt)
        Platform.copyMemory(base, from, bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)
        UTF8String.fromBytes(bytes)
      }

    private def ws(): Unit = {
      var c = at(pos)
      while (c == ' ' || c == '\t' || c == '\n' || c == '\r') { pos += 1; c = at(pos) }
    }

    private def isDigit(c: Int): Boolean = c >= '0' && c <= '9'

    private def digits(): Unit = while (isDigit(at(pos))) pos += 1

    /** At an opening quote; ends after the closing one. */
    private def string(): Boolean = {
      pos += 1
      var c = at(pos)
      while (c >= 0x20 && c != '"' && c != '\\') { pos += 1; c = at(pos) }
      pos += 1
      c == '"'
    }

    private def literal(lit: Array[Byte]): Boolean = {
      var i = 0
      while (i < lit.length) {
        if (at(pos + i) != lit(i)) return false
        i += 1
      }
      pos += lit.length
      true
    }

    private def number(): Boolean = {
      val from = pos
      if (at(pos) == '-') pos += 1
      if (at(pos) == '0') pos += 1
      else if (isDigit(at(pos))) digits()
      else return false
      if (at(pos) == '.') {
        pos += 1
        if (!isDigit(at(pos))) return false
        digits()
      }
      if (at(pos) == 'e' || at(pos) == 'E') {
        pos += 1
        if (at(pos) == '+' || at(pos) == '-') pos += 1
        if (!isDigit(at(pos))) return false
        digits()
      }
      pos - from <= MaxNumberChars
    }

    private def value(depth: Int): Boolean = {
      val c = at(pos)
      if (c == '{') obj(depth + 1, Other)
      else if (c == '[') arr(depth + 1)
      else if (c == '"') string()
      else if (c == 'n') literal(NullLit)
      else if (c == 't') literal(TrueLit)
      else if (c == 'f') literal(FalseLit)
      else if (c == '-' || isDigit(c)) number()
      else false
    }

    private def arr(depth: Int): Boolean = {
      if (depth > MaxDepth) return false
      pos += 1
      ws()
      if (at(pos) == ']') { pos += 1; return true }
      var ok = true
      while (ok) {
        ok = value(depth)
        if (ok) {
          ws()
          val c = at(pos)
          pos += 1
          if (c == ']') return true
          ok = c == ','
          ws()
        }
      }
      false
    }

    private def obj(depth: Int, kind: Int): Boolean = {
      if (depth > MaxDepth) return false
      pos += 1
      ws()
      if (at(pos) == '}') { pos += 1; return true }
      var ok = true
      while (ok) {
        ok = member(depth, kind)
        if (ok) {
          ws()
          val c = at(pos)
          pos += 1
          if (c == '}') return true
          ok = c == ','
          ws()
        }
      }
      false
    }

    /** `"key" : value` inside an object of `kind` at `depth`. */
    private def member(depth: Int, kind: Int): Boolean = {
      if (at(pos) != '"') return false
      val keyFrom = pos + 1
      if (!string()) return false
      val keyTo = pos - 1
      ws()
      if (at(pos) != ':') return false
      pos += 1
      ws()
      if (kind == Root && keyIs(keyFrom, keyTo, PropertiesKey)) properties(depth)
      else if (kind == Props && keyIs(keyFrom, keyTo, ReceivedOnKey)) target(SeenRecv)
      else if (kind == Props && keyIs(keyFrom, keyTo, ClassKey)) target(SeenClass)
      else value(depth)
    }

    private def keyIs(from: Long, to: Long, key: Array[Byte]): Boolean = {
      if (to - from != key.length) return false
      var i = 0
      while (i < key.length) {
        if (Platform.getByte(base, from + i) != key(i)) return false
        i += 1
      }
      true
    }

    private def firstTime(bit: Int): Boolean = {
      val first = (seen & bit) == 0
      seen |= bit
      first
    }

    private def properties(depth: Int): Boolean =
      firstTime(SeenProps) && {
        val c = at(pos)
        if (c == '{') { propsObject = true; obj(depth + 1, Props) }
        else c == 'n' && literal(NullLit)
      }

    private def target(bit: Int): Boolean =
      firstTime(bit) && {
        val c = at(pos)
        if (c == 'n') literal(NullLit)
        else c == '"' && {
          val from = pos + 1
          string() && {
            if (bit == SeenRecv) { recvFrom = from; recvTo = pos - 1 }
            else { classFrom = from; classTo = pos - 1 }
            true
          }
        }
      }
  }
}
