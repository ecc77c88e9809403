package graft.operators

import graft.{Staging, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A21 — per-tenant key-value config lookup (firestore_helper.py:8-28).
  *
  * The reference keeps one tiny settings DOCUMENT per tenant at
  * `/users/{uid}/config/settings` in a hosted document store and reads
  * it once per pipeline run: `get_customer_data(user_id)` returns the
  * `(vmhubToken, cnpj)` pair, raising ValueError if the document is
  * absent (firestore_helper.py:18) or if either field is missing/empty
  * (firestore_helper.py:24 — `if not vmhub_token or not cnpj`, so an
  * EMPTY STRING fails exactly like an absent key).
  *
  * Spark-native re-expression: the document store is a parquet table of
  * `(user_id, settings MAP<STRING,STRING>)` rows — the same
  * path-addressed document shape, minus the proprietary client — and
  * the lookup comes in the two forms a Spark deployment actually needs:
  *
  *  - [[getCustomerData]]: the reference's strict scalar API verbatim —
  *    one tenant in, `(token, cnpj)` out, throws with the reference's
  *    message shape on a missing document or missing/empty field. This
  *    is a driver-side call (the reference makes it once per run, not
  *    per row), so a `collect()` of ≤1 row is the CORRECT plan, not a
  *    distributed-op smell.
  *  - the set-oriented lookup in `a21_config_lookup`
  *    (IngestQueries.defs): a whole worklist of tenants resolved in one
  *    BROADCAST hash join — the store is O(tenants) (KBs–MBs at any
  *    corpus scale), so resolving a billion-row worklist costs zero
  *    shuffle — with the reference's two failure modes surfaced as a
  *    per-row `error` column (the PERMISSIVE-mode translation of
  *    fail-fast, same stance as A5's `_corrupt_record`).
  *
  * The staged store derives deterministically from the customer table
  * so the DuckDB oracle can regenerate it from arithmetic: tenants
  * `k % 5 == 3` have NO document, `k % 7 == 2` carry an empty-string
  * `vmhubToken`, `k % 11 == 5` map the `cnpj` key to NULL — covering
  * absent-doc, empty-field, and null-field distinctly. (A NULL value
  * stands in for a truly absent key deliberately: the reference's
  * `data.get('cnpj')` returns None for BOTH, so the two are
  * indistinguishable to its contract — and keeping the key present
  * keeps `element_at` total under ANSI map semantics.)
  */
object ConfigStore {

  val MissingDoc: String => String =
    uid => s"no config document found at /users/$uid/config/settings"
  val MissingField: String =
    "config document at /config/settings is missing 'vmhubToken' or 'cnpj'"

  /** Deterministic settings-document frame derived from `customer` —
    * the content the staged store holds (and the oracle regenerates). */
  def settingsFrame(s: SparkSession, sfDir: String): DataFrame = {
    val k = col("c_custkey")
    Tables.customer(s, sfDir)
      .filter(k % 5 =!= 3) // these tenants have no document at all
      .select(
        concat(lit("u"), k.cast("string")).as("user_id"),
        map(
          lit("vmhubToken"),
          when(k % 7 === 2, lit(""))
            .otherwise(concat(lit("tok-"), ((k * 2654435761L) % 1000000007L).cast("string"))),
          lit("cnpj"),
          // NULL-valued key, not absent (see the object scaladoc)
          when(k % 11 === 5, lit(null).cast("string"))
            .otherwise(lpad(((k * 7919L) % 100000000000000L).cast("string"), 14, "0"))
        ).as("settings"))
  }

  /** Staged parquet store (built once per JVM per input dir). */
  def storeDir(s: SparkSession, sfDir: String): String =
    Staging.persist(s, "a21cfg", sfDir)(settingsFrame(s, sfDir).coalesce(1))

  /** The staged store's `(user_id, settings)` rows — the one reader of
    * [[storeDir]], shared by [[getCustomerData]] and `a21_config_lookup`. */
  def store(s: SparkSession, sfDir: String): DataFrame = Staging.read(s, storeDir(s, sfDir))

  /** The reference's strict scalar API: `(vmhubToken, cnpj)` for one
    * tenant, throwing on a missing document or missing/empty field with
    * the reference's message shape (firestore_helper.py:18,24). */
  def getCustomerData(s: SparkSession, sfDir: String, userId: String): (String, String) = {
    val rows = store(s, sfDir)
      .filter(col("user_id") === userId)
      .select(element_at(col("settings"), "vmhubToken"), element_at(col("settings"), "cnpj"))
      .collect()
    if (rows.isEmpty) throw new IllegalArgumentException(MissingDoc(userId))
    val (token, cnpj) = (rows(0).getString(0), rows(0).getString(1))
    if (token == null || token.isEmpty || cnpj == null || cnpj.isEmpty)
      throw new IllegalArgumentException(MissingField)
    (token, cnpj)
  }
}
