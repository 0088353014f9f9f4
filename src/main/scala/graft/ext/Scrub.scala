package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.UnicodeNormalize

/**
 * PII scrubbing for log and text corpora — the anonymization pass that runs
 * before staged data becomes training data or leaves its retention
 * boundary. Every operator is a deterministic, codegen'd built-in
 * expression (regexp_replace / sha2), so scrubbed outputs are
 * reproducible and oracle-verifiable; nothing shuffles — the pass fuses
 * into whatever scan or stage write surrounds it.
 *
 * The reference stages raw client IPs and user ids verbatim
 * (`/root/reference/sree-etl-tdk-lambda.py:62-78` — `ip_address`,
 * `user_id` land in the cleansed layer untouched); this adds the
 * anonymization its pipeline would need under a data-protection regime.
 */
object Scrub {

  /** GDPR-style IPv4 coarsening: zero the host octet (`1.2.3.45` →
    * `1.2.3.0`) — the widely deployed anonymization that keeps /24
    * locality for analytics while dropping the host identity. The match
    * is ANCHORED to a full dotted-quad so non-IPv4 strings really do pass
    * through unchanged — an unanchored `\.[0-9]+$` would silently corrupt
    * any value ending in dot-digits (`v1.2.3` → `v1.2.0`). Shape-matched,
    * not range-validated (`999.0.0.1` still masks); a port-suffixed
    * `1.2.3.4:8080` is out of scope and passes through (the CLF client
    * field carries no port — split it off upstream if yours does). */
  def anonymizeIpv4(ip: Column): Column =
    regexp_replace(ip,
      "^([0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3})\\.[0-9]{1,3}$", "$1.0")

  /** Deterministic pseudonymization: sha2-256 of `pepper || id`. The same
    * id always maps to the same token (joins and per-user aggregates still
    * work on scrubbed data); without the pepper the mapping would be
    * trivially reversible for small id spaces by enumeration. */
  def pseudonymizeId(id: Column, pepper: String): Column =
    sha2(concat(lit(pepper), id.cast("string")), 256)

  /** Mask email addresses embedded in free text. */
  def maskEmails(text: Column, replacement: String = "<email>"): Column =
    regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", replacement)

  /**
   * Unicode-normalize text (NFC by default; NFD/NFKC/NFKD accepted) —
   * the canonical pre-hash pass: composed and decomposed accents are
   * identical text but different bytes, so every content-hash operator
   * (dedup, MinHash, SimHash, fingerprints) must see normalized input.
   * A codegen'd native expression
   * ([[graft.functions.UnicodeNormalize]]) with allocation-free ASCII
   * and already-normalized fast paths — a zero-shuffle projection that
   * fuses into the surrounding scan.
   */
  def normalize(text: Column, form: String = "NFC"): Column =
    column(UnicodeNormalize(expression(text), form))
}
