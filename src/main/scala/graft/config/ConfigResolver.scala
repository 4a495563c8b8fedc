package graft.config

/** Layered configuration resolution (SURVEY.md "What's missing" #3 —
  * the reference's SSM → dotenv → default chain, modeled without cloud
  * dependencies).
  *
  * Reference behavior reproduced
  * (/root/reference/src/config/env_manager.py:13-36,
  * /root/reference/src/storage/pgvector_storage.py:16-55):
  *
  *  - a PRIMARY store is consulted first (SSM in the reference — here
  *    any injected `Map`/function, e.g. a parameter service client);
  *    any failure falls through silently to the next layer;
  *  - then process ENVIRONMENT variables;
  *  - then per-key DEFAULTS;
  *  - a missing-required-key check reports ALL missing keys at once
  *    (the reference warns with the full list, not the first);
  *  - group resolution is all-or-nothing with a completeness gate (the
  *    reference returns `None` unless the password is present — a
  *    partially-resolved connection config must not look usable).
  *
  * The resolver is a pure function of its injected layers, so specs (and
  * any cluster deployment) can exercise every fallback path without a
  * network. No secrets are ever stored here — values flow through.
  */
final class ConfigResolver(
    primary: String => Option[String],
    env: String => Option[String] = k => sys.env.get(k),
    defaults: Map[String, String] = Map.empty) {

  /** First hit wins: primary → env → default. A throwing primary layer
    * counts as a miss (the reference's broad `except: fallback`). */
  def get(key: String): Option[String] = {
    val fromPrimary =
      try primary(key)
      catch { case scala.util.control.NonFatal(_) => None }
    // Empty string = unset AT EACH LAYER (os.getenv truthiness): a blank
    // env var must fall through to the defaults, not mask them.
    fromPrimary.filter(_.nonEmpty)
      .orElse(env(key).filter(_.nonEmpty))
      .orElse(defaults.get(key).filter(_.nonEmpty))
  }

  def getOrElse(key: String, fallback: String): String = get(key).getOrElse(fallback)

  /** All missing required keys at once (env_manager.py reports the full
    * list, not the first failure). Empty = fully configured. */
  def missing(required: Seq[String]): Seq[String] = required.filterNot(get(_).isDefined)

  /** Resolve a key group all-or-nothing: `Some(map)` only when every
    * key (after `gate`) is present. Default gate = all keys present;
    * pass a custom gate for the reference's "no password → unusable"
    * rule. */
  def group(keys: Seq[String],
      gate: Map[String, String] => Boolean = _ => true): Option[Map[String, String]] = {
    val resolved = keys.flatMap(k => get(k).map(k -> _)).toMap
    // Compare against the DISTINCT key count: `resolved` is a Map, so a
    // duplicated key in the request would otherwise make a fully-
    // configured group read as unusable.
    if (resolved.size == keys.distinct.size && gate(resolved)) Some(resolved)
    else None
  }
}
