"""PII scrub as a pipeline stage 0 — the hygiene pass a production transcript
pipeline runs before parse ships anything to sinks.

`pii_redact` (operators/dual.py) verifies the redaction semantics standalone over
the documents table; this module integrates the same scrub INTO the flagship
parse → enrich → route chain: turn text is scrubbed *before* segmentation, so no
claim record, span, query fan-out, or sink row can ever carry a raw email /
phone / IPv4 (the reference's analogous boundary is that only processed claim
records reach its sinks, /root/reference/factcheck/__init__.py:150-190 — raw
user text never leaves the pipeline unredacted here either).

The synthetic corpus contains no PII, so the oracle-checked query first plants
deterministic PII spans — keyed on the row formula (conv_seq * TURNS_PER_CONV +
turn_idx reconstructs the generator's row id), never on RNG — into non-tool
turns, then scrubs. Both the planting and the scrub are one template rendered
for Spark SQL and DuckDB (the repo's dual-dialect pattern), so the oracle is an
independent-engine check of the *redaction composed with the whole pipeline*:
scrubbed text must re-segment, span-tile, enrich, and route identically in both
engines.

Scale note: the scrub is a per-row regexp_replace chain — narrow, zero shuffle,
whole-stage codegen, fused into the same scan as the parse projection. At 10^12
turns this stage adds no exchange and no extra pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.transcripts import TURNS_PER_CONV
from .dual import D, PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE

PLACEHOLDERS = ("<EMAIL>", "<PHONE>", "<IP>")


def _row_key() -> str:
    """The generator's row id t, reconstructed from (conv_id, turn_idx):
    conv_id = 'conv-' || lpad(t div 8, 6, '0') and turn_idx = t % 8."""
    return (
        f"(cast(substring(conv_id, 6) as int) * {TURNS_PER_CONV} + turn_idx)"
    )


def seeded_text_expr(d: D, text: str = "text") -> str:
    """`text` with a deterministic PII sentence appended to ~60% of non-tool
    turns (email / phone / IPv4 rotating on the row key). Tool turns are left
    untouched so the grok `CALL ...` pattern stays anchored."""
    k = _row_key()
    email = f"' Contact me at agent' || {d.to_str(k)} || '@mail-example.com for help.'"
    phone = f"' Call 555-' || {d.to_str(f'({k}) % 900 + 100')} || '-0142 soon.'"
    ip = f"' Origin host 10.31.' || {d.to_str(f'({k}) % 256')} || '.9 noted.'"
    return (
        f"CASE WHEN tool IS NOT NULL THEN {text} "
        f"WHEN ({k}) % 5 = 0 THEN {text} || {email} "
        f"WHEN ({k}) % 5 = 1 THEN {text} || {phone} "
        f"WHEN ({k}) % 5 = 2 THEN {text} || {ip} "
        f"ELSE {text} END"
    )


def scrubbed_text_expr(d: D, text: str = "text") -> str:
    """email → <EMAIL>, phone → <PHONE>, IPv4 → <IP> (global replace)."""
    out = d.re_replace(text, PII_EMAIL_RE, "'<EMAIL>'")
    out = d.re_replace(out, PII_PHONE_RE, "'<PHONE>'")
    return d.re_replace(out, PII_IPV4_RE, "'<IP>'")


def scrub_pii(transcripts: DataFrame) -> DataFrame:
    """Production scrub: redact PII in `text`, schema unchanged. Pure
    projection — fuses into the downstream parse scan."""
    d = D("spark")
    return transcripts.withColumn("text", F.expr(scrubbed_text_expr(d)))


def seed_and_scrub(transcripts: DataFrame) -> DataFrame:
    """Test/oracle shape: plant deterministic PII, then scrub it."""
    d = D("spark")
    seeded = transcripts.withColumn("text", F.expr(seeded_text_expr(d)))
    return scrub_pii(seeded)


def pii_leak_predicate() -> F.Column:
    """True if a record payload still contains raw (unredacted) PII — the
    invariant the scrubbed pipeline must drive to zero everywhere."""
    d = D("spark")
    payload = F.coalesce(F.col("claim"), F.col("text"))
    leak = F.lit(False)
    for pat in (PII_EMAIL_RE, PII_PHONE_RE, PII_IPV4_RE):
        leak = leak | payload.rlike(pat)
    return leak


def placeholder_predicate() -> F.Column:
    """True if a record payload carries at least one redaction placeholder."""
    payload = F.coalesce(F.col("claim"), F.col("text"))
    hit = F.lit(False)
    for ph in PLACEHOLDERS:
        hit = hit | payload.contains(ph)
    return hit
