package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Convergent encryption, column-level (reference: ps-datalake's
  * `put_chunk` encrypt path, store/mod.rs:392-418, where the chunk key
  * is derived from the chunk content via ps-datachunk `encrypt()`).
  *
  * Key = SHA-256(plaintext); IV = first 12 bytes of
  * SHA-256(plaintext || "graft-iv"). Deterministic by construction:
  * identical content → identical ciphertext → ciphertext is itself
  * content-addressable and dedupes across writers, which is the whole
  * point of convergent encryption in a dedup store. (The usual
  * nonce-reuse caveat does not apply: the key is unique per plaintext,
  * so the (key, IV) pair never repeats across distinct messages.)
  *
  * Built on Spark's codegen'd `aes_encrypt`/`aes_decrypt` (GCM) — no
  * UDFs in the hot path.
  */
object Convergent {

  /** 32-byte convergent key for a binary/string column. */
  def contentKey(data: Column): Column = unhex(sha2(data, 256))

  /** Deterministic 12-byte GCM IV bound to the content. */
  def contentIv(data: Column): Column =
    unhex(substring(sha2(concat(data.cast("binary"), lit("graft-iv")), 256), 1, 24))

  /** AES-256-GCM encrypt with the convergent key. Output = IV || ct || tag. */
  def encrypt(data: Column): Column =
    aes_encrypt(data.cast("binary"), contentKey(data), lit("GCM"), lit("NONE"), contentIv(data))

  /** Decrypt a convergent ciphertext given its key. */
  def decrypt(ciphertext: Column, key: Column): Column =
    aes_decrypt(ciphertext, key, lit("GCM"), lit("NONE"))

  /** Store-path variant: deflate-then-encrypt. The key/IV are still
    * derived from the PLAINTEXT (deterministic, so identical parts
    * dedupe), but the encrypted payload is the deflated bytes — this is
    * what makes the reference's "store raw when encryption would
    * enlarge" fallback (store/mod.rs:380-385) meaningful: GCM alone
    * always adds 28 bytes, compressed-then-encrypted text shrinks.
    */
  def encryptDeflated(data: Column): Column =
    aes_encrypt(Codec.deflateCol(data.cast("binary")), contentKey(data), lit("GCM"), lit("NONE"), contentIv(data))

  /** Inverse of [[encryptDeflated]]; null when `key` does not
    * authenticate `ciphertext` (a rotten key in a catalog or manifest
    * row), so a read reports the part unreadable instead of failing.
    */
  def decryptDeflated(ciphertext: Column, key: Column): Column =
    Codec.inflateCol(try_aes_decrypt(ciphertext, key, lit("GCM"), lit("NONE")))
}
