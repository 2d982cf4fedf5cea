package graft.core

/** The part of the reference's zero/insert/merge/serialize lifecycle
  * (`RelativeErrorQuantile.hs:428-503`) that every sketch family shares —
  * what a generic aggregate needs to combine and ship a sketch without
  * knowing its family. `merge` folds `other` into this sketch in place and
  * returns this; it refuses a mismatched config loudly. */
trait Mergeable[S] {
  def merge(other: S): S
  def serialize(): Array[Byte]
}

/** Reads a family's `serialize()` bytes back; each sketch companion is one.
  * Serializable because the Catalyst plans that hold it ship to executors. */
trait SketchFormat[S] extends Serializable {
  def deserialize(bytes: Array[Byte]): S
  // plan strings print the format; keep them stable across JVMs
  override def toString: String = getClass.getSimpleName.stripSuffix("$")
}
