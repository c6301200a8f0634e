/** The benchmark's JVM half; `perfbench/run.py` builds and drives it. */
package object graftbench {

  /** Span attributes separating a read's DataFrame construction (with
    * any eager Spark actions) from its execution.
    */
  val Construct: Map[String, Any] = Map("role" -> "construct")
  val Exec: Map[String, Any] = Map("role" -> "exec")
}
