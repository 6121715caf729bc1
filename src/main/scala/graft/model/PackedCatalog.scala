package graft.model

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** A [[Catalog]] packed into one byte array: the form the validation stages
  * broadcast.
  *
  * Broadcasting the catalog's object graph costs in proportion to its
  * objects, twice: Spark sizes the value with a reflective walk before it
  * stores it, then Java-serializes it. For a 20k-user catalog that was
  * ~100-170 ms (4-core box) of every `StreamValidate.start` and of every
  * refresh-mode micro-batch. A byte array is sized in constant time and
  * serialized as one copy, so the broadcast drops to ~7 ms; packing takes
  * ~16-25 ms on the driver and unpacking ~8-15 ms, once per JVM that reads
  * the broadcast (the first task to call [[catalog]]; in local mode the
  * driver's own copy).
  *
  * Layout: strings are written once, UTF-8 with a length, and referred to
  * by index after that; so are the `allowed` lists, which most entities
  * share. The unpacked catalog shares them too, as the packed one did.
  */
final class PackedCatalog private (bytes: Array[Byte]) extends Serializable {
  @transient lazy val catalog: Catalog = PackedCatalog.unpack(bytes)
  def size: Int = bytes.length
}

object PackedCatalog {

  private final val Fresh = -1 // a string or list not written before; it follows
  private final val Absent = -2 // null

  def apply(cat: Catalog): PackedCatalog = {
    // a plain growing buffer: the java.io streams lock on every byte
    var buf = ByteBuffer.allocate(1 << 16)
    def room(n: Int): Unit = if (buf.remaining < n) {
      val b = ByteBuffer.allocate(math.max(buf.capacity * 2, buf.position() + n))
      buf.flip(); b.put(buf); buf = b
    }
    def int(i: Int): Unit = { room(4); buf.putInt(i) }
    val strings = mutable.HashMap.empty[String, Int]
    val lists = mutable.HashMap.empty[Seq[String], Int]
    def str(s: String): Unit =
      if (s == null) int(Absent)
      else strings.get(s) match {
        case Some(i) => int(i)
        case None =>
          val b = s.getBytes(UTF_8)
          int(Fresh); int(b.length); room(b.length); buf.put(b)
          strings(s) = strings.size
      }
    def list(l: Seq[String]): Unit =
      if (l == null) int(Absent)
      else lists.get(l) match {
        case Some(i) => int(i)
        case None =>
          int(Fresh); int(l.size); l.foreach(str)
          lists(l) = lists.size
      }
    int(cat.entities.size)
    cat.entities.foreach { case (k, e) => str(k); str(e.code); str(e.name) }
    int(cat.defAllowed.size)
    cat.defAllowed.foreach { case (k, d) => str(k); str(d.target_code); str(d.def_code); list(d.allowed) }
    int(cat.attributes.size)
    cat.attributes.foreach { case (k, a) =>
      str(k); str(a.attribute_code); str(a.dtt_code)
      if (a.validations == null) int(Absent)
      else {
        int(a.validations.size)
        a.validations.foreach { v =>
          if (v == null) int(Absent) else { int(Fresh); str(v.regex); str(v.errormsg) }
        }
      }
    }
    new PackedCatalog(java.util.Arrays.copyOf(buf.array(), buf.position()))
  }

  private def unpack(bytes: Array[Byte]): Catalog = {
    val in = ByteBuffer.wrap(bytes)
    val strings = mutable.ArrayBuffer.empty[String]
    val lists = mutable.ArrayBuffer.empty[Seq[String]]
    def str(): String = in.getInt() match {
      case Absent => null
      case Fresh =>
        val n = in.getInt()
        val s = new String(bytes, in.position(), n, UTF_8)
        in.position(in.position() + n)
        strings += s
        s
      case i => strings(i)
    }
    def list(): Seq[String] = in.getInt() match {
      case Absent => null
      case Fresh =>
        val l = Vector.fill(in.getInt())(str())
        lists += l
        l
      case i => lists(i)
    }
    def map[V](entry: => (String, V)): Map[String, V] = {
      val b = Map.newBuilder[String, V]
      (0 until in.getInt()).foreach(_ => b += entry)
      b.result()
    }
    val entities = map { val k = str(); k -> EntityRow(str(), str()) }
    val defAllowed = map { val k = str(); k -> DefAllowedRow(str(), str(), list()) }
    def rules(): Seq[ValidationRule] = in.getInt() match {
      case Absent => null
      case n => Vector.fill(n)(if (in.getInt() == Absent) null else ValidationRule(str(), str()))
    }
    val attributes = map { val k = str(); k -> AttributeDefRow(str(), str(), rules()) }
    Catalog(entities, defAllowed, attributes)
  }
}
