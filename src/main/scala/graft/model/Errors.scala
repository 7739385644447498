package graft.model

/** Ordered, string-deduplicated multi-error container (SURVEY §1.1),
  * mirroring the reference's `ExceptionGroup`
  * (`composable_logs/wrappers.py:71-123`): duplicates (by message string)
  * are dropped in order, `toString` joins member messages with the
  * `-------` separator, and equality is by the ordered message list
  * (behavior matrix in `tests/.../test_parallel_tasks.py:196-215`).
  */
final class ExceptionGroup(exceptionsIn: Seq[Throwable]) extends Exception {
  val exceptions: List[Throwable] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    exceptionsIn.foreach { e =>
      val k = Errors.messageOf(e)
      if (!seen.contains(k)) seen(k) = e
    }
    seen.values.toList
  }

  override def getMessage: String =
    exceptions.map(Errors.messageOf).mkString("-------\n")

  override def toString: String = getMessage

  override def equals(other: Any): Boolean = other match {
    case o: ExceptionGroup =>
      exceptions.lengthCompare(o.exceptions.size) == 0 &&
        exceptions.zip(o.exceptions).forall { case (a, b) =>
          Errors.messageOf(a) == Errors.messageOf(b)
        }
    case _ => false
  }
  override def hashCode(): Int = exceptions.map(Errors.messageOf).hashCode()
}

object Errors {

  /** Python `str(exception)` is the bare message; Scala `getMessage` can be
    * null — normalize the way the reference's string-dedup expects. */
  def messageOf(e: Throwable): String = e match {
    case g: ExceptionGroup => g.getMessage
    case _ => Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
  }

  /** `flatten_exceptions` (`wrappers.py:108-123`): unwrap nested groups;
    * a single surviving error is returned unwrapped. */
  def flattenExceptions(exceptions: Seq[Throwable]): Throwable = {
    require(exceptions.nonEmpty, "flattenExceptions: empty input")
    val unwrapped = exceptions.flatMap {
      case g: ExceptionGroup => g.exceptions
      case e => Seq(e)
    }
    if (unwrapped.sizeIs > 1) new ExceptionGroup(unwrapped) else unwrapped.head
  }

  /** `one()` (`helpers.py:136-147`): assert a single element and return it. */
  def one[A](xs: Iterable[A]): A = {
    val list = xs.toList
    if (list.sizeIs != 1) throw new IllegalStateException(
      s"one: Expected input with only one element, but input has length ${list.size}.")
    list.head
  }
}

/** Interval (µs-range) algebra (SURVEY §2 C6), mirroring
  * `composable_logs/helpers.py:28-53`. Ranges are half-open [start, stop). */
object Intervals {
  case class Range(start: Long, stop: Long) {
    def isEmpty: Boolean = !(start < stop)
  }

  def intersection(r1: Range, r2: Range): Range = {
    if (r1.isEmpty) r1
    else if (r2.isEmpty) r2
    else Range(Math.max(r1.start, r2.start), Math.min(r1.stop, r2.stop))
  }

  def intersect(r1: Range, r2: Range): Boolean =
    !intersection(r1, r2).isEmpty
}
