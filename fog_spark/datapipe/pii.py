"""PII detection and masking for training-corpus hygiene.

Before a document enters an LLM training mix, personally identifiable
strings are masked (the standard pipeline step: e.g. BigScience ROOTS
§4.2, Dolma §4.1.2 both scrub emails / IPs / phone-shaped strings with
regex passes). This module is that pass, built so an external engine
replays it byte-for-byte:

- The three patterns use the regex subset Java (Spark) and RE2 (DuckDB)
  evaluate identically: character classes, bounded repetition,
  word-boundary anchors — no backreferences, no lookaround (RE2 has
  neither). Both engines pick the same leftmost match and both are
  greedy, so counts, masked text, lengths and sha256 digests agree.
- Masking is SEQUENTIAL (emails, then IPv4, then phones), each count
  taken on the text the previous pass produced, so a digit run inside
  an email is never double-counted as a phone, and any two engines that
  apply the same order agree on every intermediate.

Scale shape: one row-local projection — no shuffle, no UDF, all three
passes are JVM regexp built-ins inside whole-stage codegen; the scan's
column pruning keeps it at (id, text). At 100 TB this is the cheapest
kind of operator there is: embarrassingly parallel over row batches.

Phone matching is deliberately the INTERNATIONAL form (leading ``+``):
a bare "10+ digits" rule floods false positives on numeric corpora
(the classic Dolma/CCNet caveat); detectors for national formats are a
policy choice layered on the same machinery.

Not in FOG (a graph engine, fogsrc/main.cpp:51-135); PII scrubbing is
part of the LLM-data-pipeline extension surface (SURVEY §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Java-regex == RE2 subset; see module docstring before editing.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
PHONE_RE = "\\+[0-9][0-9 ()-]{6,}[0-9]"

EMAIL_TOKEN = "<EMAIL>"
IP_TOKEN = "<IP>"
PHONE_TOKEN = "<PHONE>"


def _count(col, pattern: str):
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0))).cast("long")


def pii_scrub(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    include_text: bool = False,
) -> DataFrame:
    """(id, n_emails, n_ipv4, n_phones, masked_len, masked_sha
    [, masked]) per document.

    Counts are taken on the progressively-masked text (see module
    docstring); ``masked_sha`` is the sha256 hex of the fully-masked
    text — the cheap equality witness a 100 TB pipeline checkpoints
    instead of re-shipping document bodies (the same content-digest
    invariant as graph/derive.with_content_sha).
    """
    t0 = F.coalesce(F.col(text_col), F.lit(""))
    t1 = F.regexp_replace(t0, EMAIL_RE, EMAIL_TOKEN)
    t2 = F.regexp_replace(t1, IPV4_RE, IP_TOKEN)
    t3 = F.regexp_replace(t2, PHONE_RE, PHONE_TOKEN)
    cols = [
        F.col(id_col).alias("id"),
        _count(t0, EMAIL_RE).alias("n_emails"),
        _count(t1, IPV4_RE).alias("n_ipv4"),
        _count(t2, PHONE_RE).alias("n_phones"),
        F.length(t3).cast("long").alias("masked_len"),
        F.sha2(t3, 256).alias("masked_sha"),
    ]
    if include_text:
        cols.append(t3.alias("masked"))
    return docs.select(*cols)
