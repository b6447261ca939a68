"""Versioned parser rule-packs — the prompt-plugin analog (SURVEY.md §2.9).

The reference ships swappable prompt packs (EN + ZH, YAML/JSON loadable:
/root/reference/factcheck/utils/prompt/customized_prompt.py:6-33, registry at
utils/prompt/__init__.py:13-19) that define how text is decomposed. Our parser
equivalent is a rule-pack: the sentence-boundary rules, abbreviation
protections, tool-call grok pattern, and checkworthiness-fallback regexes that
drive the P-stage. Packs are plain JSON/YAML data, versioned, recorded per
resumable epoch in its sink snapshot summary, and rendered for BOTH engines
(Spark via the DataFrame API, DuckDB via generated SQL) so the oracle always
executes the same pack as the pipeline.

Splitting model (shared by both renderers):

  1. **Protect** rules run first and must be LENGTH-PRESERVING: they replace a
     char that would otherwise trigger a boundary with the \\x02 sentinel
     (e.g. the space after "Dr." / "e.g."), so abbreviations never split.
  2. **Boundary** rules insert the \\x01 sentinel after a sentence terminator
     WITHOUT dropping any original character (the space after ASCII [.!?]
     stays attached to the preceding segment; CJK 。！？ need no space).
  3. Split on \\x01, then restore \\x02 -> ' ' inside each segment.

  Because every original character survives in exactly one segment, the raw
  segments concatenate back to the turn text with NO separator — spans are a
  gap-free monotone partition of the document, the reference's span contract
  (/root/reference/factcheck/core/Decompose.py:92-107).

Replacement strings use ``{1}``..``{9}`` for capture groups, ``{SEP}`` for the
boundary sentinel and ``{SP}`` for the protection sentinel; renderers map these
to the engine's syntax ($1 vs \\1, literal char vs chr(n)).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

SEP = "\x01"  # sentence-boundary sentinel
SP = "\x02"  # protected-space sentinel


@dataclass(frozen=True)
class Rule:
    pattern: str  # RE2-compatible (DuckDB) AND Java-compatible regex
    replacement: str  # uses {1}..{9}, {SEP}, {SP}


@dataclass(frozen=True)
class RulePack:
    name: str
    version: str
    protect_rules: tuple[Rule, ...]
    boundary_rules: tuple[Rule, ...]
    tool_call_pattern: str
    opinion_pattern: str
    vague_pattern: str
    min_sent_len: int = 3
    meta: dict = field(default_factory=dict)

    @property
    def identity(self) -> str:
        return f"{self.name}@{self.version}"

    # --- renderers --------------------------------------------------------
    def spark_replacement(self, repl: str) -> str:
        """Java regexp_replace replacement: $n group refs, literal sentinels."""
        out = repl.replace("{SEP}", SEP).replace("{SP}", SP)
        return re.sub(r"\{(\d)\}", r"$\1", out)

    def duckdb_replacement_sql(self, repl: str) -> str:
        """DuckDB replacement as a SQL expression (sentinels via chr())."""
        parts: list[str] = []
        for tok in re.split(r"(\{SEP\}|\{SP\}|\{\d\})", repl):
            if not tok:
                continue
            if tok == "{SEP}":
                parts.append("chr(1)")
            elif tok == "{SP}":
                parts.append("chr(2)")
            elif re.fullmatch(r"\{\d\}", tok):
                parts.append("'\\" + tok[1] + "'")
            else:
                parts.append("'" + tok.replace("'", "''") + "'")
        return " || ".join(parts) if parts else "''"

    def duckdb_split_sql(self, text_expr: str) -> str:
        """DuckDB array<varchar> of raw segments (protect -> boundary ->
        restore -> split), all original chars preserved. The \\x02 sentinel
        only needs to exist DURING the boundary pass, so it is restored with
        one whole-text literal replace before the split — cheaper than a
        per-segment lambda after it."""
        s = text_expr
        for r in self.protect_rules + self.boundary_rules:
            pat = "'" + r.pattern.replace("'", "''") + "'"
            s = f"regexp_replace({s}, {pat}, {self.duckdb_replacement_sql(r.replacement)}, 'g')"
        if self.protect_rules:
            s = f"replace({s}, chr(2), ' ')"
        return f"string_split({s}, chr(1))"


# --------------------------------------------------------------------------------------
# Default pack (shipped data file) + loading
# --------------------------------------------------------------------------------------

_PACK_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "rulepacks")
DEFAULT_PACK_PATH = os.path.join(_PACK_DIR, "default.json")


def _from_dict(obj: dict) -> RulePack:
    def rules(key: str) -> tuple[Rule, ...]:
        return tuple(Rule(r["pattern"], r["replacement"]) for r in obj.get(key, []))

    return RulePack(
        name=obj["name"],
        version=str(obj["version"]),
        protect_rules=rules("protect_rules"),
        boundary_rules=rules("boundary_rules"),
        tool_call_pattern=obj["tool_call_pattern"],
        opinion_pattern=obj["opinion_pattern"],
        vague_pattern=obj["vague_pattern"],
        min_sent_len=int(obj.get("min_sent_len", 3)),
        meta=obj.get("meta", {}),
    )


def load_pack(path: str | None = None) -> RulePack:
    """Load a rule-pack from JSON (or YAML when PyYAML is present).

    The default pack is read through importlib.resources so it loads from a
    ``spark-submit --py-files`` ZIP exactly like from a checkout — a plain
    ``open(<path inside zip>)`` would fail on every executor."""
    if path is None:
        from importlib import resources

        raw = (
            resources.files("openfactverification_spark.rulepacks")
            .joinpath("default.json")
            .read_text()
        )
        return _from_dict(json.loads(raw))
    with open(path) as f:
        raw = f.read()
    if path.endswith((".yaml", ".yml")):
        import yaml  # optional dependency; JSON is the guaranteed format

        obj = yaml.safe_load(raw)
    else:
        obj = json.loads(raw)
    return _from_dict(obj)


DEFAULT_PACK = load_pack()
