package org.apache.spark.sql.graftext

/** The one way generated code reaches a native function's kernel.
  *
  * A kernel is a Scala method on the expression's companion object; its
  * `nullSafeEval` calls it directly and its `doGenCode` emits
  * `KernelCall(classOf[X], "kernel", args)`, so the interpreted fallback
  * and whole-stage codegen run the same compiled loop and cannot drift.
  * The call goes through the static forwarder Scala puts on the case
  * class, named through `classOf` so a rename fails at compile time. A
  * kernel must not share its name with a member of the case class (for
  * example `apply`): Scala emits no forwarder for such a name.
  */
private[graftext] object KernelCall {
  def apply(cls: Class[_], kernel: String, args: Any*): String =
    s"${cls.getName}.$kernel(${args.mkString(", ")})"
}
