package graft.functions

/** A constant array a fused expression carries (a codebook, a weight
  * matrix, a flattened forest), compared by content.
  *
  * Catalyst matches plans by case-class equality: `sameResult` (the cache
  * lookup, `Par.register`'s guard) and subexpression elimination. A bare
  * `Array` field compares by reference, so two plans built from the same
  * model or codebook never matched. Equality here is the length, then a
  * content hash computed once, then `Arrays.equals`.
  */
sealed abstract class Held(val length: Int, hash: Int) extends Serializable {
  protected def sameValues(other: Held): Boolean

  override def hashCode: Int = hash

  override def equals(o: Any): Boolean = o match {
    case h: Held => (h eq this) || (h.getClass == getClass &&
      h.length == length && h.hashCode == hash && sameValues(h))
    case _ => false
  }

  override def toString: String = s"$length values #${Integer.toHexString(hash)}"
}

final class Doubles(val values: Array[Double])
  extends Held(values.length, java.util.Arrays.hashCode(values)) {
  def apply(i: Int): Double = values(i)
  protected def sameValues(other: Held): Boolean =
    java.util.Arrays.equals(values, other.asInstanceOf[Doubles].values)
}

final class Ints(val values: Array[Int])
  extends Held(values.length, java.util.Arrays.hashCode(values)) {
  def apply(i: Int): Int = values(i)
  protected def sameValues(other: Held): Boolean =
    java.util.Arrays.equals(values, other.asInstanceOf[Ints].values)
}
