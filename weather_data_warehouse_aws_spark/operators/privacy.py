"""Keyed pseudonymization with crypto-erasure — the REVERSIBLE privacy
primitive that completes the GDPR toolkit next to the irreversible ones
(functions/text.py::redact_pii masks free text in place;
operators/txlog.py::tx_erase_keys physically deletes rows).

Pseudonymization replaces an identifier with a deterministic keyed token:

    token = sha256(secret || '|' || column || '|' || CAST(value AS STRING))

Determinism keeps the dataset ANALYZABLE — equal identities map to equal
tokens, so joins, groupBys, sessionization, and dedup all still work on
the tokenized column. Reversibility lives ONLY in the vault relation
(token, value) returned alongside: re-identification is a broadcast join
against the vault, and *crypto-erasure* is deleting vault rows (or
discarding the secret) — the fact table never needs rewriting, which at
100 TB is the entire point: forgetting one person is a KB-scale vault
delete instead of a petabyte rewrite (that rewrite path exists too —
`tx_erase_keys` — for when the token itself must go).

Construction note: sha256(secret||msg) is the textbook "secret-prefix
MAC", length-extension caveats and all — fine here because tokens are
never used as authenticators, only as opaque join keys; swap in a real
HMAC udf if tokens ever cross a trust boundary. The per-column label in
the preimage stops cross-column correlation (the same email in `email`
and `backup_email` tokenizes differently unless the caller wants
otherwise via `domain`).

Everything is JVM-side (`sha2`, `concat_ws`) and cross-engine portable:
DuckDB's `sha256()` produces the identical lowercase hex, so tokenized
relations remain oracle-differential-testable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "pseudonym_token",
    "pseudonym_token_sql",
    "pseudonymize",
    "depseudonymize",
    "forget_tokens",
]


def pseudonym_token(col: Column, *, secret: str, domain: str) -> Column:
    """Deterministic keyed token for `col` (NULL stays NULL: a missing
    identity is not an identity). `domain` scopes the token space —
    normally the column name. The `|` separators make the preimage
    unambiguous only while `secret` and `domain` are `|`-free (a trailing
    secret `|` could otherwise alias a domain prefix); values may contain
    anything — the value slot is last, so it can never bleed into the
    label slots."""
    return F.when(
        col.isNotNull(),
        F.sha2(
            F.concat_ws("|", F.lit(secret), F.lit(domain), col.cast("string")),
            256,
        ),
    )


def pseudonym_token_sql(expr: str, *, secret: str, domain: str) -> str:
    """DuckDB mirror of `pseudonym_token` — bit-identical lowercase hex.
    Secret/domain are spliced as SQL literals, so quotes are doubled —
    a secret containing `'` must hash identically, not break the SQL."""
    esc = lambda s: s.replace("'", "''")  # noqa: E731
    return (
        f"CASE WHEN {expr} IS NOT NULL THEN "
        f"sha256('{esc(secret)}' || '|' || '{esc(domain)}' || '|' "
        f"|| CAST({expr} AS VARCHAR)) END"
    )


def pseudonymize(
    df: DataFrame, cols: list[str], *, secret: str
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Replace each column in `cols` with its keyed token; returns
    (tokenized_df, vault) where vault[col] is the (token, value)
    re-identification relation carrying the ORIGINAL value type.

    The vault is distinct-values-sized (≪ rows for real identifier
    columns); store it separately from the data under stricter access —
    possession of data + vault = re-identification; data alone = pseudo-
    nymous but fully analyzable. One distinct-aggregate per column, no
    extra scan of the fact beyond the projection Spark already prunes."""
    out = df
    vault: dict[str, DataFrame] = {}
    for c in cols:
        tok = pseudonym_token(F.col(c), secret=secret, domain=c)
        vault[c] = (
            df.select(F.col(c).alias("value"))
            .filter(F.col("value").isNotNull())
            .distinct()
            .select(
                pseudonym_token(F.col("value"), secret=secret, domain=c).alias(
                    "token"
                ),
                "value",
            )
        )
        out = out.withColumn(c, tok)
    return out, vault


def depseudonymize(
    df: DataFrame, vault: dict[str, DataFrame], cols: list[str] | None = None
) -> DataFrame:
    """Restore original values by joining tokens against the vault —
    broadcast (the vault is distinct-identities-sized). Tokens with no
    vault row (crypto-erased, or never vaulted) resolve to NULL: that is
    the FORGET semantics, not an error. NULL tokens stay NULL."""
    out = df
    for c in cols or list(vault):
        if f"__tok_{c}" in df.columns or f"__val_{c}" in df.columns:
            raise ValueError(
                f"__tok_{c}/__val_{c} are reserved join-scratch names"
            )
        v = F.broadcast(
            vault[c].select(
                F.col("token").alias(f"__tok_{c}"),
                F.col("value").alias(f"__val_{c}"),
            )
        )
        out = (
            out.join(v, out[c] == F.col(f"__tok_{c}"), "left")
            .withColumn(c, F.col(f"__val_{c}"))
            .drop(f"__tok_{c}", f"__val_{c}")
        )
    return out


def forget_tokens(
    vault_col: DataFrame, values: list
) -> DataFrame:
    """Crypto-erasure: drop the vault rows for `values` (original-value
    space). The tokenized fact table is untouched and stays consistent —
    the forgotten identities simply become irrecoverable opaque tokens.
    None entries are stripped (NULL was never vaulted), and the survivor
    filter is NULL-safe by construction (vault values are non-null)."""
    values = [v for v in values if v is not None]
    if not values:
        return vault_col
    return vault_col.filter(~F.col("value").isin(values))
