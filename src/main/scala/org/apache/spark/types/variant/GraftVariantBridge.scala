package org.apache.spark.types.variant

/** Bridge to `Variant`'s package-private `(value, metadata, pos)`
  * constructor, which views a nested value in place without copying its
  * bytes (the way `getFieldByKey` / `getElementAtIndex` build their
  * results). The native walker addresses nested values by offset and
  * builds a `Variant` only where an API takes one: custom-keyword
  * predicates and `uniqueItems` equality. One forwarding call, like
  * `GraftSqlBridge`. */
object GraftVariantBridge {
  def at(value: Array[Byte], metadata: Array[Byte], pos: Int): Variant =
    new Variant(value, metadata, pos)
}
