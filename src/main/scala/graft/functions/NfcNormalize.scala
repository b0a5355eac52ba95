package graft.functions

import java.text.Normalizer

import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization
  * (`java.text.Normalizer`, canonical composition): the canonicalization
  * pass a multilingual corpus needs BEFORE any hash-keyed operator —
  * "é" as one codepoint and "e" + combining acute are the same text to a
  * reader but different bytes to md5/minhash/exact-dedup, so an
  * unnormalized corpus under-deduplicates and leaks near-identical eval
  * rows across splits. The kernel of the SQL function `nfc_normalize` (a
  * [[Native]] row); the common all-ASCII row short-circuits on
  * `Normalizer.isNormalized` (a cheap scan) without allocating.
  */
object NfcNormalize {

  /** Called from generated code — must stay public + static-forwarded. */
  def normalizeUTF8(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}
