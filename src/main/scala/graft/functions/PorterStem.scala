package graft.functions

import org.apache.spark.unsafe.types.UTF8String

import graft.text.PorterStemmer

/** The kernel of the SQL function `porter_stem` (a [[Native]] row):
  * generated code calls `stemUTF8` directly inside whole-stage codegen
  * (unlike a Scala UDF, which forces an extra serialization boundary).
  * Semantics per reference `Stemmer.java:367-379` (see
  * [[graft.text.PorterStemmer.stem]]).
  */
object PorterStem {

  /** Per-thread LRU memo: token streams are Zipf-distributed, so almost
    * every stem call repeats a recently-seen surface form — a hash lookup
    * (~50 ns) replaces a full Porter pass. Thread-local avoids
    * synchronization in generated code; 64k entries bounds memory at a few
    * MB per executor thread. Values are immutable copies, never views into
    * reusable row buffers.
    */
  private val cacheSize = 1 << 16
  private val cache: ThreadLocal[java.util.LinkedHashMap[String, UTF8String]] =
    ThreadLocal.withInitial(() =>
      new java.util.LinkedHashMap[String, UTF8String](1 << 12, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, UTF8String]): Boolean =
          size() > cacheSize
      })

  /** Called from generated code — must stay public + static-forwarded. */
  def stemUTF8(s: UTF8String): UTF8String = {
    val key = s.toString
    val c = cache.get()
    var v = c.get(key)
    if (v == null) {
      v = UTF8String.fromString(PorterStemmer.stem(key))
      c.put(key, v)
    }
    v
  }
}
