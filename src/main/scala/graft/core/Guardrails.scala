package graft.core

/** Guardrail validation at engine bootstrap — the
  * `pipeline/GuardrailValidator.java:30-35` analog: enforce configured
  * limits (captured-table count, per-table bucket count) BEFORE any work
  * starts. `warnOnly` downgrades violations to stderr warnings, mirroring
  * the reference's warn-vs-fail guardrail modes.
  */
final case class Guardrails(
    maxTables: Int = 256,
    maxBucketsPerTable: Int = 65536,
    warnOnly: Boolean = false)

object Guardrails {

  /** Validate a capture configuration, `tables` as (name, numBuckets).
    * Returns the violation messages (empty = clean); throws
    * IllegalStateException unless `warnOnly`.
    */
  def validate(g: Guardrails, tables: Seq[(String, Int)]): Seq[String] = {
    val v = Seq.newBuilder[String]
    if (tables.size > g.maxTables)
      v += s"captured table count ${tables.size} exceeds guardrail maxTables=${g.maxTables}"
    tables.filter(_._2 > g.maxBucketsPerTable).foreach { case (n, b) =>
      v += s"table '$n' bucket count $b exceeds guardrail maxBucketsPerTable=${g.maxBucketsPerTable}"
    }
    tables.filter(_._2 < 1).foreach { case (n, b) =>
      v += s"table '$n' bucket count $b must be >= 1"
    }
    val out = v.result()
    if (out.nonEmpty) {
      if (g.warnOnly) out.foreach(m => System.err.println(s"[graft guardrail] $m"))
      else throw new IllegalStateException(("guardrail violations:" +: out).mkString("\n  "))
    }
    out
  }
}
