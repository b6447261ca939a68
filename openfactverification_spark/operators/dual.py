"""Dual-dialect SQL builders: each operator query is one template rendered for
Spark SQL (executed through Catalyst — SQL API and DataFrame API produce the same
plans) and for DuckDB (the driver's oracle). Rendering both dialects from one
template makes the oracle an *independent engine* check, not a copy of the code.

Dialect seams are isolated in the `D` helper; everything else is ANSI-ish SQL.
A query body renders each per-dialect spelling through a `D` method (explode
vs unnest, percentile vs quantile_cont, the day string, MATERIALIZED, the
broadcast hint, regex literals, string casts), so it branches on `d.spark`
only where the two engines get different plan shapes or function libraries:
the LATERAL VIEW band renderer (band_rows_sql), `_dot`, the LSH bucket
renderer and probe join, posexplode (IVF assignment, n-gram spans), the
k-means unpivot and matrix rebuild, `_cells_sql`'s argmax, BPE, `windows_cte`,
the count-min row join and the log-line timestamp.
"""

from __future__ import annotations

from ..functions import hashing as H


class D:
    """Dialect expression helpers. All array indices here are 0-based."""

    def __init__(self, name: str):
        assert name in ("spark", "duckdb")
        self.name = name
        self.spark = name == "spark"

    # --- arrays -----------------------------------------------------------
    def seq(self, a, b_incl, step=1) -> str:
        if self.spark:
            return f"sequence({a}, {b_incl}, {step})"
        return f"range({a}, ({b_incl}) + 1, {step})"

    def arr(self, items: list) -> str:
        lits = ", ".join(str(x) for x in items)
        return f"array({lits})" if self.spark else f"[{lits}]"

    def elem(self, arr, idx0) -> str:
        if self.spark:
            return f"element_at({arr}, cast(({idx0}) as int) + 1)"
        return f"list_extract({arr}, cast(({idx0}) as int) + 1)"

    def alen(self, arr) -> str:
        return f"size({arr})" if self.spark else f"len({arr})"

    def ajoin(self, arr, sep="' '") -> str:
        return (
            f"array_join({arr}, {sep})" if self.spark else f"array_to_string({arr}, {sep})"
        )

    def aslice(self, arr, start0, length) -> str:
        if self.spark:
            return f"slice({arr}, ({start0}) + 1, {length})"
        return f"list_slice({arr}, ({start0}) + 1, ({start0}) + {length})"

    def adistinct(self, arr) -> str:
        return f"array_distinct({arr})" if self.spark else f"list_distinct({arr})"

    def transform(self, arr, var, body) -> str:
        fn = "transform" if self.spark else "list_transform"
        return f"{fn}({arr}, {var} -> {body})"

    def afilter(self, arr, var, body) -> str:
        fn = "filter" if self.spark else "list_filter"
        return f"{fn}({arr}, {var} -> {body})"

    def fold_sum(self, arr) -> str:
        """Sequential left-fold double sum — bit-identical across engines."""
        if self.spark:
            return f"aggregate({arr}, cast(0 as double), (acc, x) -> acc + x)"
        return f"list_sum({arr})"

    def explode(self, arr) -> str:
        """Select-list generator: one output row per element of ``arr``."""
        return f"explode({arr})" if self.spark else f"unnest({arr})"

    def explode_join(self, arr, col, alias="t") -> str:
        """FROM-clause join of every row with each element ``col`` of ``arr``."""
        if self.spark:
            return f"LATERAL VIEW explode({arr}) {alias} AS {col}"
        return f"CROSS JOIN (SELECT unnest({arr}) AS {col}) {alias}"

    # --- scalars ----------------------------------------------------------
    def split_ws(self, s) -> str:
        return f"split({s}, ' ')" if self.spark else f"string_split({s}, ' ')"

    def xor(self, a, b) -> str:
        return f"({a} ^ {b})" if self.spark else f"xor({a}, {b})"

    def shr(self, x, n) -> str:
        return f"shiftright({x}, {n})" if self.spark else f"({x} >> {n})"

    def json_str(self, col, key) -> str:
        if self.spark:
            return f"get_json_object({col}, '$.{key}')"
        return f"json_extract_string({col}, '$.{key}')"

    def regexp_count(self, col, pat) -> str:
        """Matches of the regex ``pat`` (unescaped; see re) in ``col``."""
        if self.spark:
            return f"regexp_count({col}, '{self.re(pat)}')"
        return f"len(regexp_extract_all({col}, '{self.re(pat)}'))"

    def div(self, a, b) -> str:
        return f"({a} div {b})" if self.spark else f"({a} // {b})"

    def epoch_sec(self, ts) -> str:
        return f"unix_timestamp({ts})" if self.spark else f"cast(floor(epoch({ts})) as bigint)"

    def h7(self, expr) -> str:
        return H.h7(expr, self.name)

    def big(self, expr) -> str:
        """sum() result normalization: DuckDB sums to HUGEINT; pin to BIGINT."""
        return f"cast({expr} as bigint)"

    def to_str(self, expr) -> str:
        return f"cast({expr} as string)" if self.spark else f"cast({expr} as varchar)"

    def re(self, pat: str) -> str:
        """A regex rendered for embedding in a '...' SQL literal: Spark SQL
        consumes one backslash level inside string literals, DuckDB does not.
        Single quotes are ''-doubled so a pattern matching apostrophes cannot
        break the literal."""
        out = pat.replace("\\", "\\\\") if self.spark else pat
        return out.replace("'", "''")

    def day(self, ts) -> str:
        """'yyyy-MM-dd' string of a timestamp."""
        if self.spark:
            return f"cast(cast({ts} as date) as string)"
        return f"strftime({ts}, '%Y-%m-%d')"

    def percentile(self, col, p) -> str:
        """Exact interpolated percentile: Spark `percentile` and DuckDB
        `quantile_cont` share the (1-f)*lo + f*hi definition, so the doubles
        match bitwise."""
        return f"{'percentile' if self.spark else 'quantile_cont'}({col}, {p})"

    def materialized(self) -> str:
        """CTE modifier pinning a multiply-referenced step: DuckDB's binder
        re-binds every CTE reference; Spark inlines CTEs regardless."""
        return "" if self.spark else "MATERIALIZED "

    def broadcast(self, alias) -> str:
        """Spark broadcast-join hint (DuckDB plans its own build side)."""
        return f"/*+ BROADCAST({alias}) */ " if self.spark else ""

    def re_replace(self, col, pat, repl) -> str:
        """Global replace of the regex ``pat`` (unescaped; see re) by the SQL
        expression ``repl`` (Spark is global by default; DuckDB needs 'g')."""
        g = "" if self.spark else ", 'g'"
        return f"regexp_replace({col}, '{self.re(pat)}', {repl}{g})"

    def last_ignore_nulls(self, col) -> str:
        """last_value ignoring nulls, for windowed carry-forward (the IGNORE
        NULLS clause sits in different spots in the two grammars)."""
        if self.spark:
            return f"last_value({col}) IGNORE NULLS"
        return f"last_value({col} IGNORE NULLS)"


# ======================================================================================
# Text / dedup building blocks
# ======================================================================================

MINHASH_JACCARD = 0.15  # the minhash dedup verdict: verified jaccard >= this


def words_sql(d: D, cols: str = "doc_id", source: str = "documents") -> str:
    """``cols`` of ``source`` plus its word array ``w``, staged as a COLUMN
    for word_ngrams: lambda bodies get no common-subexpression elimination,
    so a gram lambda over split(text) would re-split the whole document once
    per gram."""
    return f"SELECT {cols}, {d.split_ws('text')} AS w FROM {source}"


def word_ngrams(d: D, n: int, w: str = "w", hashed: bool = False) -> str:
    """The word n-grams of the word-array column ``w`` (each h7-hashed when
    ``hashed``) as one array, or NULL for a doc shorter than n words. The
    guard is a lazy CASE, not a WHERE: fused predicates can evaluate the
    transform before a length filter, and Spark's sequence() throws on a
    negative bound. Exploding NULL yields zero rows in both engines."""
    gram = d.ajoin(d.aslice(w, "i", n))
    grams = d.transform(d.seq(0, f"{d.alen(w)} - {n}"), "i", d.h7(gram) if hashed else gram)
    return f"CASE WHEN {d.alen(w)} >= {n} THEN {grams} END"


def shingles_expr(d: D, n: int = 3, w: str = "w") -> str:
    """Distinct word n-gram shingles of the word-array column ``w`` as an
    array<string> (NULL below n words)."""
    return d.adistinct(word_ngrams(d, n, w))


def doc_shingles_sql(d: D, n: int = 3) -> str:
    """CTE body: (doc_id, shingle) exploded distinct shingles per document."""
    return f"SELECT doc_id, {d.explode(shingles_expr(d, n))} AS shingle FROM ({words_sql(d)}) s"


STOP_RE = r"\b(the|a|of|and|in)\b"  # stopword count of the quality score
EN_STOP_RE = r"\b(the|a)\b"  # English-marker count of the heuristic language ID


def norm_text(d: D) -> str:
    """Whitespace-squeezed, trimmed, lower-cased text: the exact-dedup key."""
    squeezed = d.re_replace("text", r"\s+", "' '")
    return f"lower(trim({squeezed}))"


# ======================================================================================
# Queries — each returns one SQL string in dialect d
# ======================================================================================

def q_dedup_exact(d: D) -> str:
    """Exact dedup by normalized text hash: keeper = min(doc_id) (SURVEY §4
    'free win: dropDuplicates before enrich')."""
    norm = norm_text(d)
    return f"""
SELECT md5({norm}) AS text_hash,
       {d.big('min(doc_id)')} AS keeper_id,
       {d.big('count(*)')} AS n_copies
FROM documents GROUP BY md5({norm})"""


def q_dedup_ngram_jaccard(d: D, n: int = 3, threshold: float = 0.18, max_df: int = 200) -> str:
    """N-gram Jaccard near-dup pairs via shingle self-join. Shingles with document
    frequency > max_df are dropped (stop-shingle cap — bounds the join fan-out at
    scale; the 100TB path swaps this block for minhash_lsh)."""
    return f"""
WITH sh AS ({doc_shingles_sql(d, n)}),
rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {max_df}
),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM shr GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT {d.big('id_a')} AS id_a, {d.big('id_b')} AS id_b,
       round(cast(n_common as double) / (sa.sz + sb.sz - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE cast(n_common as double) / (sa.sz + sb.sz - n_common) >= {threshold}"""


def minhash_sig_cte(d: D, n: int = 3, k: int | None = None, sh_sql: str | None = None) -> str:
    """CTE: per-doc MinHash signature columns mh0..mh{k-1}, plus a slim `sizes`
    CTE (doc_id, sz) for jaccard denominators. `k` defaults to the production
    sketch width (functions/hashing.MINHASH_K = 128).

    The md5-derived base hash is materialized once per shingle in `hx` — inlining
    it into each of the K min() aggregates would md5 every shingle K times.
    `sizes` is deliberately a separate count-only CTE: Spark inlines CTEs, so a
    consumer joining `sig` twice for denominators would re-run the full K-way
    minhash aggregation per reference; re-running a bare count over the shingle
    explode is cheap by comparison.

    ``sh_sql`` overrides the shingle-explode CTE body with a caller-supplied
    relation (e.g. a cached temp view). Spark inlines CTEs, so a consumer that
    references `sh` R times re-runs the n-gram construction R times — at scale
    you materialize the shingle (or signature) table once and derive everything
    from it; testdata_queries.q_dedup_minhash_lsh_runner does exactly that."""
    k = H.MINHASH_K if k is None else k
    mins = ",\n         ".join(
        f"min({H.minhash_expr(i, 'h')}) AS mh{i}" for i in range(k)
    )
    return f"""sh AS ({sh_sql or doc_shingles_sql(d, n)}),
hx AS (SELECT doc_id, {d.h7('shingle')} AS h FROM sh),
sig AS (
  SELECT doc_id, {mins}
  FROM hx GROUP BY doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)"""


def band_rows_sql(d: D, source: str, keep: str, key_col: str, keys: list[str]) -> str:
    """The one LSH band renderer: ``keep`` columns of every ``source`` row
    plus (band_idx, ``key_col``), one row per band b with key ``keys[b]``.
    Spark gets ONE explode over the row (Spark inlines CTEs, so a UNION ALL of
    per-band selects would recompute an inlined signature aggregation once
    per band); DuckDB keeps the UNION ALL form (it materializes
    multiply-referenced CTEs)."""
    if d.spark:
        structs = ", ".join(
            f"named_struct('band_idx', {b}, '{key_col}', {key})" for b, key in enumerate(keys)
        )
        return (
            f"SELECT {keep}, bb.band_idx AS band_idx, bb.{key_col} AS {key_col}\n"
            f"  FROM {source} LATERAL VIEW explode(array({structs})) t AS bb"
        )
    return "\n  UNION ALL\n  ".join(
        f"SELECT {keep}, {b} AS band_idx, {key} AS {key_col} FROM {source}"
        for b, key in enumerate(keys)
    )


def minhash_bands_sql(
    d: D, k: int | None = None, bands: int | None = None, sig_ref: str = "sig"
) -> str:
    """(doc_id, band_idx, band_key) LSH band stream from a signature relation
    ``sig_ref`` (columns doc_id, mh0..mh{k-1}): band b's key joins its rows'
    minhash values with '_'."""
    k = H.MINHASH_K if k is None else k
    bands = H.MINHASH_BANDS if bands is None else bands
    rows = k // bands
    keys = [
        " || '_' || ".join(d.to_str(f"mh{b * rows + r}") for r in range(rows))
        for b in range(bands)
    ]
    return band_rows_sql(d, sig_ref, "doc_id", "band_key", keys)


def q_minhash_signatures(d: D, k: int | None = None) -> str:
    k = H.MINHASH_K if k is None else k
    cols = ", ".join(f"mh{i}" for i in range(k))
    return f"WITH {minhash_sig_cte(d, k=k)}\nSELECT {d.big('doc_id')} AS doc_id, {cols} FROM sig"


def q_dedup_minhash_lsh(
    d: D,
    threshold: float = MINHASH_JACCARD,
    k: int | None = None,
    bands: int | None = None,
    sh_sql: str | None = None,
) -> str:
    """MinHash + LSH banding: band buckets -> candidate pairs -> exact-jaccard
    verify. The banded join keys the shuffle on (band_idx, band_hash), so at scale
    candidates ~ collisions, never all-pairs.

    Defaults are the production sketch (K=128 as 16 bands x 8 rows): collision
    probability at jaccard s is 1-(1-s^8)^16 — ~1 at s>=0.85, ~0.24 at s=0.6,
    negligible below 0.4 — so candidate volume stays ~linear in corpus size
    (band false positives don't blow up the verify join the way the 4x2 toy
    sketch's 1-(1-s^2)^4 curve would at 10^12 docs).

    A band value shared by B docs still costs B^2/2 candidate pairs; lossless
    collapse of identical shingle sets before banding is an open ROADMAP.md
    item."""
    k = H.MINHASH_K if k is None else k
    bands = H.MINHASH_BANDS if bands is None else bands
    return f"""
WITH {minhash_sig_cte(d, k=k, sh_sql=sh_sql)},
bands AS (
  {minhash_bands_sql(d, k=k, bands=bands)}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND a.shingle = b.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT {d.big('v.id_a')} AS id_a, {d.big('v.id_b')} AS id_b,
       round(cast(v.n_common as double) / (sa.sz + sb.sz - v.n_common), 6) AS jaccard
FROM verified v
JOIN sizes sa ON sa.doc_id = v.id_a
JOIN sizes sb ON sb.doc_id = v.id_b
WHERE cast(v.n_common as double) / (sa.sz + sb.sz - v.n_common) >= {threshold}"""


def q_dedup_incremental(
    d: D, threshold: float = MINHASH_JACCARD, pairs_sql: str | None = None
) -> str:
    """Incremental corpus dedup: judge newly-ingested batches against the
    already-accepted corpus — the production loop for continuously-ingested
    training data, where each increment is deduped against a PERSISTED
    signature store and only accepted docs' signatures are appended
    (the dedup-before-enrich free win of SURVEY §4, recast to the
    ingest-over-time axis).

    Batch assignment is deterministic from the fixture: batch = doc_id % 3
    (0 = initial corpus, then increments 1 and 2 processed IN ORDER).
    Sequential store-growth semantics, per increment batch B:

    * ``dup_of_seen``  — a verified near-dup partner exists in seen(B), where
      seen(1) = corpus and seen(2) = corpus ∪ new(1). Docs dropped from
      batch 1 never enter the store, so a batch-2 doc whose only partner was
      a DROPPED batch-1 doc is NOT dup_of_seen — exactly what a signature
      store would say. dup_of = min such partner.
    * ``dup_in_batch`` — else, a verified partner y < doc exists in the same
      batch with y itself not dup_of_seen (keeper-by-min, one level — chain
      closure across batches is dedup_components' job, not this gate's).
    * ``new``          — else; the doc's signatures join the store.

    Near-dup pairs are the K=128 banded-minhash + exact-jaccard verify of
    q_dedup_minhash_lsh — same sketch, same threshold (``pairs_sql``
    substitutes another verified-pair relation). This single-statement
    template is the DUCKDB ORACLE: its step CTEs chain five deep, and
    Catalyst inlines every CTE reference, so on Spark the nested expansion is
    exponential in chain depth. The Spark side is the production shape
    instead (testdata_queries.q_dedup_incremental_runner): the streaming
    ingest operator's seed_store on batch 0, then one process_batch per
    increment against the SnapLog signature store."""
    # AS MATERIALIZED on every step CTE: DuckDB's binder re-binds each CTE
    # reference, so the five-deep chain expands exponentially at plan time
    # exactly like Catalyst's inlining (EXPLAIN alone hung >60s; materialized
    # it binds each step once and runs in ~2s at sf0.001).
    m = d.materialized()

    def batch(b: int, store: str) -> str:
        return f"""b{b}_seen AS {m}(
  SELECT x AS doc_id, min(y) AS dup_of FROM ex WHERE bx = {b} AND ({store}) GROUP BY x
),
b{b}_intra AS {m}(
  SELECT x AS doc_id, min(y) AS dup_of FROM ex
  WHERE bx = {b} AND byy = {b} AND y < x
    AND x NOT IN (SELECT doc_id FROM b{b}_seen) AND y NOT IN (SELECT doc_id FROM b{b}_seen)
  GROUP BY x
),
b{b}_new AS {m}(
  SELECT doc_id FROM docs WHERE batch = {b}
    AND doc_id NOT IN (SELECT doc_id FROM b{b}_seen)
    AND doc_id NOT IN (SELECT doc_id FROM b{b}_intra)
)"""

    status = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS batch_id, '{label}' AS status, {dup_of} AS dup_of "
        f"FROM b{b}_{step}"
        for b in (1, 2)
        for label, step, dup_of in (
            ("dup_of_seen", "seen", "dup_of"),
            ("dup_in_batch", "intra", "dup_of"),
            ("new", "new", "cast(NULL as bigint)"),
        )
    )
    return f"""
WITH pairs AS {m}({pairs_sql or q_dedup_minhash_lsh(d, threshold=threshold)}),
docs AS {m}(
  SELECT {d.big('doc_id')} AS doc_id, cast(doc_id % 3 as int) AS batch FROM documents
),
ex AS {m}(
  SELECT e.x, e.y, dx.batch AS bx, dy.batch AS byy
  FROM (
    SELECT id_a AS x, id_b AS y FROM pairs
    UNION ALL
    SELECT id_b AS x, id_a AS y FROM pairs
  ) e
  JOIN docs dx ON dx.doc_id = e.x
  JOIN docs dy ON dy.doc_id = e.y
),
{batch(1, "byy = 0")},
{batch(2, "byy = 0 OR y IN (SELECT doc_id FROM b1_new)")}
{status}"""


def q_dedup_simhash(d: D, max_hamming: int = 6) -> str:
    """SimHash near-dup: per-doc {bits}-bit simhash over word hashes, then pairs
    with hamming distance <= max_hamming via bit_count(xor). All-pairs — the
    test-scale baseline; q_dedup_simhash_banded is the scale path."""
    return f"""
WITH {simhash_cte(d)}
SELECT {d.big('a.doc_id')} AS id_a, {d.big('b.doc_id')} AS id_b,
       cast(bit_count({d.xor('a.simhash', 'b.simhash')}) as int) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count({d.xor('a.simhash', 'b.simhash')}) <= {max_hamming}"""


def simhash_cte(d: D, sim_sql: str | None = None) -> str:
    """CTE `sim(doc_id, simhash)` — shared by the all-pairs baseline and the
    banded scale path. ``sim_sql`` substitutes a caller-supplied relation
    (e.g. a cached temp view): consumers reference `sim` twice (pair
    self-join) and Spark inlines CTEs, so the inline form runs the word
    explode + bit-sum aggregation twice; at scale you materialize the sketch
    table once."""
    return f"sim AS ({sim_sql or simhash_plain_sql(d)})"


def simhash_plain_sql(d: D) -> str:
    """The `sim(doc_id, simhash)` relation as ONE nested-subquery SELECT (no
    WITH clause). The word hash is SIMHASH_BITS wide (md5 prefix), so every
    simhash bit carries signal — a hash narrower than the sketch would pin
    the upper bits to a constant and void those bands. The nested form is
    also what the Spark materialization runner caches: a cached DataFrame
    built from a WITH-CTE plan is NOT substituted by the CacheManager when
    the same view is referenced inside a larger query (the WithCTE node
    defeats the canonical subtree match — observed on 4.1), while the plain
    nested form cache-hits exactly like the minhash shingle view."""
    bits = H.SIMHASH_BITS
    h = H.hash_prefix("word", bits // 4, d.name)
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN ({d.shr('h', b)} & 1) = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    sim = " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits))
    words = d.explode(d.adistinct(d.split_ws("text")))
    return f"""SELECT doc_id, cast({sim} as bigint) AS simhash
FROM (
  SELECT doc_id, {bit_sums}
  FROM (SELECT doc_id, {h} AS h FROM (SELECT doc_id, {words} AS word FROM documents) w) hx
  GROUP BY doc_id
) bitsum"""


def simhash_bands_sql(d: D, max_hamming: int) -> str:
    """(doc_id, simhash, band_idx, band_val) from ``sim``: the sketch's bits
    split into max_hamming + 1 contiguous bands."""
    bits, n_bands = H.SIMHASH_BITS, max_hamming + 1
    base, rem = divmod(bits, n_bands)
    widths = [base + (1 if i < rem else 0) for i in range(n_bands)]
    keys = [
        f"({d.shr('simhash', sum(widths[:i]))} & {(1 << wd) - 1})"
        for i, wd in enumerate(widths)
    ]
    return band_rows_sql(d, "sim", "doc_id, simhash", "band_val", keys)


def q_dedup_simhash_banded(d: D, max_hamming: int = 6, sim_sql: str | None = None) -> str:
    """SimHash near-dup via banded candidate generation — the scale path.

    Pigeonhole: pairs within hamming <= {k} over {bits} bits, split into {k}+1
    bands, must agree exactly on at least one band — so candidates come from a
    per-band equi-join (shuffle keyed on (band_idx, band_val)), never the
    all-pairs cross join of q_dedup_simhash. Exact bit_count verify keeps the
    output identical to the baseline. Band selectivity = 2^(bits/(k+1)) values
    per band — the reason the sketch is 48-bit (see functions/hashing)."""
    return f"""
WITH {simhash_cte(d, sim_sql=sim_sql)},
bands AS (
  {simhash_bands_sql(d, max_hamming)}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sim_a, b.doc_id AS id_b, b.simhash AS sim_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT {d.big('id_a')} AS id_a, {d.big('id_b')} AS id_b,
       cast(bit_count({d.xor('sim_a', 'sim_b')}) as int) AS hamming
FROM cand
WHERE bit_count({d.xor('sim_a', 'sim_b')}) <= {max_hamming}"""


ENSEMBLE_MAX_HAMMING = 2  # tight simhash verdict for the multi-method union


def dedup_components_oracle(ensemble: bool = False) -> str:
    """DuckDB-only oracle for dedup cluster assignment (operators/components.py):
    min-label transitive closure over the minhash-LSH pair graph as a recursive
    CTE — every doc's component id is the minimum doc_id reachable through
    near-dup pairs; the keeper is the component minimum (the dedup_exact
    keeper-by-min convention). The Spark side is the iterative label-propagation
    loop; this is the same fixpoint written declaratively.

    ``ensemble=True`` closes over the UNION of the minhash-LSH and
    simhash-banded pair graphs — the multi-method dedup composition
    (q_dedup_ensemble_components): methods catch different near-dup classes
    (word-shingle jaccard vs weighted-feature hamming), and the union
    components merge their verdicts into one keeper assignment. The simhash
    side uses the tight hamming<=2 verdict threshold: an ensemble unions
    PRECISE per-method verdicts (the loose <=6 default is a candidate
    generator whose 20k+ pairs at sf0.01 make the closure a dense-graph
    stress test, not a dedup assignment)."""
    d = D("duckdb")
    pairs_sql = f"SELECT id_a, id_b FROM ({q_dedup_minhash_lsh(d)}\n) mh"
    if ensemble:
        sh = q_dedup_simhash_banded(d, max_hamming=ENSEMBLE_MAX_HAMMING)
        pairs_sql += f"\n  UNION\n  SELECT id_a, id_b FROM ({sh}\n) sh"
    return f"""
WITH RECURSIVE pairs AS (
  {pairs_sql}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT doc_id AS node, doc_id AS comp FROM documents
  UNION
  SELECT e.dst AS node, r.comp AS comp
  FROM reach r JOIN edges e ON e.src = r.node
)
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(min(comp) AS BIGINT) AS component_id,
       (min(comp) = node) AS is_keeper
FROM reach GROUP BY node"""


def q_training_ready(d: D, min_quality: float = 0.35, lang: str = "en") -> str:
    """The composed training-data gate: exact-dedup keepers only, predicted
    language filter, quality floor — the end-to-end 'which documents enter the
    training set' query that chains dedup + language-ID + quality scoring in
    ONE pass (each piece is separately oracle-verified; this verifies their
    composition). Emits the surviving docs with their quality features."""
    norm = norm_text(d)
    w = d.split_ws("text")
    n_tok = d.alen(w)
    n_uniq = d.alen(d.adistinct(w))
    stop = d.regexp_count("text", STOP_RE)
    en_stop = d.regexp_count("text", EN_STOP_RE)
    quality = (
        f"round(least(cast({n_tok} as double) / 50, cast(1 as double)) * 0.5"
        f" + (cast({n_uniq} as double) / {n_tok}) * 0.3"
        f" + least(cast({stop} as double) / {n_tok}, cast(0.2 as double)), 6)"
    )
    pred = f"CASE WHEN cast({en_stop} as double) / {n_tok} >= 0.05 THEN 'en' ELSE 'other' END"
    return f"""
WITH keepers AS (
  SELECT {d.big('min(doc_id)')} AS doc_id FROM documents GROUP BY md5({norm})
),
scored AS (
  SELECT doc_id, cast({n_tok} as int) AS n_tokens,
         {quality} AS quality_score,
         {pred} AS predicted_lang
  FROM documents
)
SELECT {d.big('s.doc_id')} AS doc_id, s.n_tokens, s.quality_score
FROM scored s JOIN keepers k ON s.doc_id = k.doc_id
WHERE s.quality_score >= {min_quality} AND s.predicted_lang = '{lang}'"""


def q_sample_stratified(d: D, rates: dict[str, float] | None = None) -> str:
    """Deterministic stratified sampling per language stratum: keep a doc iff
    its content hash falls under the stratum's rate threshold — hash-gated, no
    rand(), so the sample is byte-reproducible across runs, engines, and
    parallelism levels (the determinism constraint SURVEY §7 hard-part (c)
    imposes on everything). Per-stratum rates rebalance a skewed corpus (the
    standard training-mix knob); emitted as per-stratum counts + kept ids
    checksum so the oracle verifies membership, not just volume."""
    rates = rates or {"en": 0.5, "zh": 0.8, "de": 0.25, "fr": 0.25, "es": 0.25}
    h = d.h7("text")
    denom = 1 << 28  # h7 is a 28-bit hash
    cases = " ".join(
        f"WHEN '{lang}' THEN {int(r * denom)}" for lang, r in sorted(rates.items())
    )
    thresh = f"CASE lang {cases} ELSE 0 END"
    return f"""
WITH gated AS (
  SELECT doc_id, lang, ({h} < {thresh}) AS kept
  FROM documents
)
SELECT lang,
       {d.big('count(*)')} AS n_total,
       {d.big('sum(CASE WHEN kept THEN 1 ELSE 0 END)')} AS n_kept,
       {d.big('sum(CASE WHEN kept THEN doc_id ELSE 0 END)')} AS kept_id_sum
FROM gated GROUP BY lang"""


def q_sample_quality_weighted(d: D, floor: float = 0.10, ceil: float = 0.95) -> str:
    """Per-document quality-weighted sampling — the continuous data-mixing
    knob (DoReMi/quality-classifier-style up/down-weighting) next to the
    per-stratum rates of q_sample_stratified: each doc's keep probability is
    its own quality weight w ∈ [floor, ceil] (here a length-based proxy:
    longer docs up to 80 tokens are worth more), and the keep decision is
    hash-gated (h7(text) < w·2^28) — NO rand(), so the sampled set is
    byte-reproducible across runs, engines, and parallelism levels, and a
    resumed pipeline re-derives the identical mixture.

    Scale shape: pure projection + one tiny aggregate — the gate rides the
    scan; at 10^12 docs re-weighting the whole corpus costs one IO pass.
    Output: per weight-decile counts + kept-id checksum (membership, not just
    volume) + the realized rate so mix calibration is auditable."""
    h = d.h7("text")
    denom = 1 << 28
    ntok = f"{d.alen(d.split_ws('text'))}"
    w = f"least({ceil}, greatest({floor}, cast({ntok} as double) / 80))"
    return f"""
WITH gated AS (
  SELECT doc_id,
         round({w}, 6) AS weight,
         cast(floor({w} * 10) as int) AS decile,
         ({h} < cast({w} * {denom} as bigint)) AS kept
  FROM documents
)
SELECT decile,
       {d.big('count(*)')} AS n_total,
       {d.big('sum(CASE WHEN kept THEN 1 ELSE 0 END)')} AS n_kept,
       {d.big('sum(CASE WHEN kept THEN doc_id ELSE 0 END)')} AS kept_id_sum,
       round(avg(weight), 6) AS avg_weight,
       round(cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) as double) / count(*), 6)
         AS realized_rate
FROM gated GROUP BY decile"""


def q_split_train_holdout(d: D, test_pct: int = 5, val_pct: int = 5) -> str:
    """Contamination-safe train/val/test split, keyed on CONTENT, not id:
    the split bucket is a hash of the normalized text, so byte-identical
    documents can never straddle splits (the train→test leak that id- or
    rand()-keyed splits allow whenever the corpus still contains dupes —
    the same failure mode q_decontaminate_eval measures across corpora).
    Deterministic: no rand(), so the split is byte-reproducible across runs,
    engines, and parallelism levels, and downstream shards can re-derive
    membership instead of persisting it.

    Output is the audit, not the rows: per-split counts + id-sum membership
    checksum, plus n_leaky = number of distinct normalized texts assigned to
    more than one split — structurally 0, and the oracle hash-match proves
    both engines agree on every assignment. Scale shape: one projection for
    the bucket, one groupBy(split) — the gate rides the scan at 10^12 docs;
    the leak audit groups by text-hash (bounded by distinct texts)."""
    norm = "lower(trim(text))"
    bucket = f"({d.h7(norm)} % 100)"
    split = (
        f"CASE WHEN bucket < {test_pct} THEN 'test' "
        f"WHEN bucket < {test_pct + val_pct} THEN 'val' ELSE 'train' END"
    )
    return f"""
WITH b AS (
  SELECT doc_id, {d.h7(norm)} AS texth, {bucket} AS bucket FROM documents
),
s AS (
  SELECT doc_id, texth, {split} AS split FROM b
),
leaks AS (
  SELECT {d.big('count(*)')} AS n_leaky
  FROM (SELECT texth FROM s GROUP BY texth HAVING count(DISTINCT split) > 1) t
)
SELECT split,
       {d.big('count(*)')} AS n_docs,
       {d.big('sum(doc_id)')} AS id_sum,
       round(cast(count(*) as double) / (SELECT {d.big('count(*)')} FROM documents), 4)
         AS frac,
       (SELECT n_leaky FROM leaks) AS n_leaky
FROM s GROUP BY split"""


def q_mix_domains(d: D) -> str:
    """Domain-mixture calibration: downsample per-language strata to a target
    mixture (the data-mixing step every corpus assembly runs before
    training; targets here re-balance the en-heavy fixture). The feasible
    corpus size is S = min over langs(n_lang / target_lang) — the largest
    total for which every stratum can meet its target without upsampling —
    and each stratum keeps floor(target * S) documents.

    WHICH documents: the hash-ranked prefix (row_number over h7(text) within
    the stratum), so membership is deterministic and byte-reproducible, and
    growing the quota only ADDS documents (nested prefixes — a larger mix
    reuses the smaller one's shards). Scale shape: the per-stratum window
    ranks within lang partitions (bounded count, parallel across strata; a
    skewed stratum would use the salted two-phase rank of operators/skew.py),
    everything else is tiny aggregates.

    Output per lang: corpus count, quota, kept membership checksum, realized
    fraction of the mixed corpus — the calibration audit."""
    tgt = "CASE lang WHEN 'en' THEN 0.30 WHEN 'de' THEN 0.20 WHEN 'es' THEN 0.20 WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.15 END"
    return f"""
WITH stats AS (
  SELECT lang, count(*) AS n, {tgt} AS t FROM documents GROUP BY lang
),
scale AS (
  SELECT min(n / t) AS s FROM stats
),
quota AS (
  SELECT lang, n, cast(floor(t * s) as bigint) AS keep_n FROM stats CROSS JOIN scale
),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {d.h7('text')}, doc_id) AS rnk
  FROM documents
),
kept AS (
  SELECT r.doc_id, r.lang FROM ranked r JOIN quota q ON r.lang = q.lang
  WHERE r.rnk <= q.keep_n
)
SELECT q.lang,
       {d.big('q.n')} AS n_corpus,
       {d.big('q.keep_n')} AS n_kept,
       {d.big('sum(k.doc_id)')} AS kept_id_sum,
       round(cast(q.keep_n as double) / (SELECT sum(keep_n) FROM quota), 4)
         AS realized_frac
FROM quota q JOIN kept k ON k.lang = q.lang
GROUP BY q.lang, q.n, q.keep_n"""


def q_epoch_shuffle(d: D, epoch: int = 1, n_out: int = 100) -> str:
    """Deterministic epoch shuffle: training-order permutation derived from
    h7(doc_id : epoch) — a different (but reproducible) global order every
    epoch with NO rand() and NO persisted permutation table; any worker can
    re-derive its shard. The query emits the first n_out positions as the
    checkable prefix: ORDER BY shuffle-key LIMIT n (TakeOrderedAndProject —
    a per-partition top-n + tiny merge, no global sort) rather than a
    row_number over the whole corpus (single-partition window — the shape
    that dies at 10^12 rows; a FULL epoch ordering at scale is Spark's
    range-partitioned sort on the same key). Different epochs are verified
    disjoint-order by tests/test_verify_ops.py."""
    sk = d.h7(f"concat(cast(doc_id as string), ':', '{epoch}')")
    return f"""
WITH k AS (
  SELECT doc_id, {sk} AS sk FROM documents
),
top AS (
  SELECT doc_id, sk FROM k ORDER BY sk, doc_id LIMIT {n_out}
)
SELECT cast(row_number() OVER (ORDER BY sk, doc_id) as int) AS pos,
       {d.big('doc_id')} AS doc_id, sk
FROM top"""


def q_doc_fingerprint(d: D, n: int = 4) -> str:
    """Rolling-hash document fingerprint: min/max shingle hash + distinct-shingle
    count (winnowing-style content signature)."""
    return f"""
WITH sh AS ({doc_shingles_sql(d, n)})
SELECT {d.big('doc_id')} AS doc_id,
       min({d.h7('shingle')}) AS fp_min,
       max({d.h7('shingle')}) AS fp_max,
       {d.big('count(*)')} AS n_shingles
FROM sh GROUP BY doc_id"""


def q_clean_text(d: D, cap: int = 120) -> str:
    """P4/P5/P8: newline squeeze + whitespace normalize + truncation cap +
    length-band filter (the reference's crawl-text hygiene,
    web_util.py:90-93 / serper_retriever.py:105 / Retriever/base.py:219-224)."""
    # replacement via chr(10) avoids Java replacement-string escape pitfalls
    squeezed = d.re_replace("text", r"\n+", "chr(10)")
    norm = d.re_replace(f"trim({squeezed})", r"\s+", "' '")
    return f"""
WITH cleaned AS (
  SELECT doc_id, substring({norm}, 1, {cap}) AS clean_text,
         length({norm}) AS full_len
  FROM documents
)
SELECT {d.big('doc_id')} AS doc_id, clean_text,
       cast(length(clean_text) as int) AS n_chars,
       (full_len > {cap}) AS was_truncated
FROM cleaned
WHERE full_len BETWEEN 3 AND 100000"""


def q_text_stats(d: D) -> str:
    """Token counting + quality scoring (length, distinct ratio, stopword ratio)
    — the text-analysis battery, all JVM-side expressions."""
    w = d.split_ws("text")
    n_tok = d.alen(w)
    n_uniq = d.alen(d.adistinct(w))
    stop = d.regexp_count("text", STOP_RE)
    return f"""
SELECT {d.big('doc_id')} AS doc_id,
       cast({n_tok} as int) AS n_tokens,
       cast({n_uniq} as int) AS n_unique_tokens,
       cast(length(text) as int) AS n_chars_measured,
       round(cast({n_uniq} as double) / {n_tok}, 6) AS distinct_ratio,
       cast({stop} as int) AS n_stopwords,
       round(least(cast({n_tok} as double) / 50, cast(1 as double)) * 0.5
             + (cast({n_uniq} as double) / {n_tok}) * 0.3
             + least(cast({stop} as double) / {n_tok}, cast(0.2 as double)), 6) AS quality_score
FROM documents"""


def q_lang_id(d: D) -> str:
    """Heuristic language ID vs the labeled lang column: confusion counts.
    (The real signal at scale is char n-gram profiles in a pandas UDF; this is
    the pure-SQL stopword-heuristic baseline.)"""
    en_stop = d.regexp_count("text", EN_STOP_RE)
    w = d.split_ws("text")
    pred = f"CASE WHEN cast({en_stop} as double) / {d.alen(w)} >= 0.05 THEN 'en' ELSE 'other' END"
    return f"""
SELECT lang, {pred} AS predicted, {d.big('count(*)')} AS n
FROM documents GROUP BY lang, {pred}"""


def q_lang_id_model(d: D) -> str:
    """Model-based language ID: a char-n-gram linear classifier with LITERAL
    weights (functions/langid.py — fastText-style in miniature, trained
    offline on embedded public-text samples), replacing the en/other stopword
    heuristic (q_lang_id) with a real 5-way en/de/es/fr/zh decision.

    The fixture corpus labels `lang` but draws text from one shared
    vocabulary (no learnable signal — measured at chance with a word-level
    NB), so the query deterministically plants a short characteristic phrase
    per labeled doc (same formula in both engines, the q_pii_redact /
    q_decontaminate_eval pattern) and the oracle checks the DETECTION: the
    model never sees the label, only the text. The plant repeats with doc
    length (1 copy per 80 chars) because a real foreign-language document is
    foreign THROUGHOUT — constant-density signal, not a fixed suffix a long
    English-vocabulary body can outvote.

    Scale shape: scoring is ONE projection — per feature gram, a substring
    count via the non-overlapping replace() trick, then five fixed linear
    combinations and a prioritized argmax CASE. No join, no explode, no
    shuffle beyond the confusion-count groupBy (≤ 25 rows). ~40 replaces per
    doc, branch-free inside whole-stage codegen; the same plan scores 10^12
    docs as a map-only pass."""
    from ..functions import langid as L

    tails = " ".join(
        f"WHEN '{lang}' THEN '{L.PLANT_TAILS[lang]}'" for lang in L.LANGS
    )
    score_cols = []
    for lang in L.LANGS:
        terms = []
        for g, w in L.MODEL[lang]:
            cnt = d.div(f"(length(t) - length(replace(t, '{g}', '')))", len(g))
            terms.append(f"{cnt} * {w}")
        score_cols.append(f"round({' + '.join(terms)}, 6) AS s_{lang}")
    # prioritized argmax: first language (LANGS order) whose score is >= all
    # later ones — identical tie-breaking in both engines
    branches = []
    for i, lang in enumerate(L.LANGS[:-1]):
        conds = " AND ".join(f"s_{lang} >= s_{o}" for o in L.LANGS[i + 1 :])
        branches.append(f"WHEN {conds} THEN '{lang}'")
    pred = f"CASE {' '.join(branches)} ELSE '{L.LANGS[-1]}' END"
    scores = ",\n         ".join(score_cols)
    return f"""
WITH seeded AS (
  SELECT doc_id, lang,
         lower(text || repeat(CASE lang {tails} ELSE '' END,
                              greatest(1, {d.div('length(text)', 80)}))) AS t
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         {scores}
  FROM seeded
)
SELECT lang, {pred} AS predicted, {d.big('count(*)')} AS n
FROM scored GROUP BY lang, {pred}"""


def q_chunk_documents(d: D, size: int = 10, step: int = 8) -> str:
    """P9 sliding-window chunking (reference base.py:201-235: passages of 10
    sentences stepping 8) over words; pure array ops, no UDF."""
    w = d.split_ws("text")
    starts = d.seq(0, f"{d.alen(w)} - 1", step)
    from_clause = f"(SELECT doc_id, text, {d.explode(starts)} AS start_word FROM documents)"
    chunk = d.ajoin(d.aslice(w, "start_word", size))
    return f"""
SELECT {d.big('doc_id')} AS doc_id,
       cast(start_word as int) AS start_word,
       cast(least(start_word + {size}, {d.alen(w)}) as int) AS end_word,
       {chunk} AS chunk_text
FROM {from_clause} t"""


def chunk_passages_oracle(size: int = 10, step: int = 8, max_passages: int = 5) -> str:
    """DuckDB-only oracle for the T3 greedy passage selector (operators/passages.py).

    The Spark side is a per-doc `aggregate` fold over the sorted chunks; the
    oracle expresses the same greedy scan as a recursive CTE whose state is the
    per-doc list of chosen intervals: at step i the candidate ranked i+1 (score
    desc, start_word) is admitted iff fewer than `max_passages` are chosen and
    neither of its endpoints falls inside a chosen interval (the reference predicate,
    /root/reference/factcheck/core/Retriever/base.py:174-182, exclusive-end
    translation as in passages.select_passages_pdf). Scores are the same
    portable md5-prefix hash both engines compute (functions/hashing.h7)."""
    d = D("duckdb")
    chunks_sql = q_chunk_documents(d, size=size, step=step)
    overlap = (
        "(c.s <= r.start_word AND r.start_word < c.e) "
        "OR (c.s < r.end_word AND r.end_word <= c.e)"
    )
    return f"""
WITH RECURSIVE chunks AS ({chunks_sql}
),
scored AS (
  SELECT doc_id, start_word, end_word, {d.h7('chunk_text')} AS score FROM chunks
),
ranked AS (
  SELECT doc_id, start_word, end_word, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, start_word) AS ord
  FROM scored
),
counts AS (SELECT doc_id, max(ord) AS n FROM ranked GROUP BY doc_id),
sel AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS i,
         CAST([] AS STRUCT(s INT, e INT, sc BIGINT)[]) AS chosen
  FROM counts
  UNION ALL
  SELECT st.doc_id, st.i + 1,
         CASE WHEN len(st.chosen) < {max_passages}
               AND len(list_filter(st.chosen, c -> {overlap})) = 0
              THEN list_append(st.chosen,
                               {{'s': r.start_word, 'e': r.end_word, 'sc': r.score}})
              ELSE st.chosen END
  FROM sel st JOIN ranked r ON r.doc_id = st.doc_id AND r.ord = st.i + 1
),
final AS (
  SELECT st.doc_id, st.chosen
  FROM sel st JOIN counts c ON c.doc_id = st.doc_id AND st.i = c.n
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(chosen[u.i + 1].s AS INT) AS start_word,
       CAST(chosen[u.i + 1].e AS INT) AS end_word,
       CAST(chosen[u.i + 1].sc AS BIGINT) AS score,
       CAST(u.i + 1 AS INT) AS sel_rank
FROM final, (SELECT unnest(range(0, {max_passages})) AS i) u
WHERE u.i < len(chosen)"""


# ======================================================================================
# Embeddings: similarity search
# ======================================================================================

def _dot(d: D, a: str, b: str, dim: int = 64) -> str:
    """Sequential-fold dot product of two embedding COLUMNS, bit-identical
    across engines.

    Spark side pairs elements with zip_with (direct array iteration) instead of
    indexing via element_at over a sequence() — element_at does a bounds check
    and null handling per element. Every dot in this module is a fold, never
    unrolled arithmetic: unrolled terms (column x column, or column x literal
    plane/centroid) make generated methods that pass the JIT's huge-method
    threshold or, inside join/sort stages, the 64KB codegen method limit —
    interpreted execution either way."""
    if d.spark:
        prods = f"zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double))"
    else:
        prods = d.transform(
            d.seq(1, dim), "i", f"cast({a}[i] as double) * cast({b}[i] as double)"
        )
    return d.fold_sum(prods)


def _cand_stats(d: D, stats: bool) -> tuple[str, str]:
    """(ranked-CTE window column, final-select projection) for the per-query
    candidate count ``n_cand_q`` that recall_with_cost_sql consumes — one
    definition for every ANN family's stats flag."""
    if not stats:
        return "", ""
    return (
        ",\n         count(*) OVER (PARTITION BY query_id) AS n_cand_q",
        f",\n       {d.big('n_cand_q')} AS n_cand_q",
    )


def cosine_cte(d: D, source: str = "embeddings") -> str:
    """CTE `nv`: embeddings with precomputed L2 norm (norm once, not per pair).
    ``source`` swaps the vector table (e.g. the clustered-geometry fixture)."""
    return f"""nv AS (
  SELECT vec_id, label, embedding,
         sqrt({_dot(d, 'embedding', 'embedding')}) AS nrm
  FROM {source}
)"""


def q_embed_cosine_topk(
    d: D, k: int = 5, n_queries: int = 50, source: str = "embeddings"
) -> str:
    """Brute-force cosine top-k neighbors for the first n_queries vectors —
    the exact baseline ANN implementations are measured against. O(Q*N); the
    scale path is q_embed_lsh_ann."""
    cos = f"{_dot(d, 'q.embedding', 'c.embedding')} / (q.nrm * c.nrm)"
    return f"""
WITH {cosine_cte(d, source)},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({cos}, 6) AS cosine
  FROM nv q JOIN nv c ON q.vec_id < {n_queries} AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT {d.big('query_id')} AS query_id, {d.big('neighbor_id')} AS neighbor_id,
       cosine, cast(rnk as int) AS rnk
FROM ranked WHERE rnk <= {k}"""


def q_embed_ann_recall(
    d: D,
    k: int = 3,
    n_queries: int = 30,
    method: str = "ivf",
    nprobe: int | None = None,
    n_cells: int | None = None,
    rounds: int = 0,
    planes_per_table: int = 8,
    n_tables: int = 1,
    radius: int = 0,
    clustered: bool = False,
) -> str:
    """MEASURED recall@k of one ANN configuration against the exact
    brute-force top-k, with the candidate volume it paid, as one
    oracle-paired row (recall_with_cost_sql): recall_at_k, n_hit, n_true,
    worst_query_recall, n_candidates. Both rankings break cosine ties on
    neighbor_id, so the metric is deterministic and cross-engine-identical.
    Every registered recall query is a point of this one builder.

    ``method='ivf'`` searches q_embed_ivf_ann: n_cells cells (default the
    16-cell seeded pool), nprobe probed per query, centroids refined by
    ``rounds`` Lloyd's rounds (0 = the seeded pool). The fixture's RANDOM
    64-dim vectors are IVF's hardest case (no cluster structure, so cell
    boundaries cut arbitrary neighborhoods): recall@3 at 16 cells / nprobe=2
    measures 0.30, and nprobe=4 recovers recall at proportional probe cost.

    ``method='lsh'`` searches q_embed_lsh_ann at (planes_per_table x n_tables
    x radius). The single-table single-probe point measures 0.022 at 8 planes
    (256 buckets over 500 vectors ≈ 2 candidates/query) vs 0.167 at 4 planes
    — the planes knob IS the recall/candidate-volume dial; radius 1 (the
    Hamming-1 multi-probe of Lv et al., VLDB'07) and more tables climb the
    same curve at measured candidate cost.

    ``clustered=True`` runs both sides on the clustered-geometry fixture
    (clustered_embeddings_cte) — the regime real embeddings live in, where
    k-means-refined IVF and multi-probe LSH reach recall >= 0.9."""
    source = "cemb" if clustered else "embeddings"
    if method == "ivf":
        ann = q_embed_ivf_ann(
            d, k=k, n_queries=n_queries, n_cells=n_cells, nprobe=nprobe,
            rounds=rounds, source=source, stats=True,
        )
    else:
        assert method == "lsh", method
        ann = q_embed_lsh_ann(
            d, k=k, planes_per_table=planes_per_table, n_tables=n_tables,
            radius=radius, n_queries=n_queries, stats=True, source=source,
        )
    bf = q_embed_cosine_topk(d, k=k, n_queries=n_queries, source=source)
    lead = clustered_embeddings_cte(d) + ",\n" if clustered else ""
    return recall_with_cost_sql(d, ann, bf, lead_ctes=lead)


def q_embed_dup_pairs(d: D, threshold: float = 0.40) -> str:
    """Embedding-cosine near-duplicate pairs (all-pairs at test scale; LSH-bucketed
    at production scale)."""
    cos = f"{_dot(d, 'a.embedding', 'b.embedding')} / (a.nrm * b.nrm)"
    return f"""
WITH {cosine_cte(d)}
SELECT {d.big('a.vec_id')} AS id_a, {d.big('b.vec_id')} AS id_b,
       round({cos}, 6) AS cosine
FROM nv a JOIN nv b ON a.vec_id < b.vec_id
WHERE {cos} >= {threshold}"""


def q_embed_dup_pairs_lsh(
    d: D,
    threshold: float = 0.40,
    planes_per_table: int = 3,
    n_tables: int = 8,
    bump: float | None = None,
    output: str = "pairs",
    nv_sql: str | None = None,
    buckets_over_sql: str | None = None,
) -> str:
    """Embedding near-dup pairs, scale path: multi-table hyperplane-LSH
    candidate generation + exact-cosine verify (mirrors the
    dedup_simhash / dedup_simhash_banded pairing; q_embed_dup_pairs is the
    exact all-pairs baseline this is measured against).

    Candidates = pairs sharing a bucket in ANY of L tables of p planes each
    (disjoint slices of the seeded pool, lsh_buckets_sql); the per-table
    equi-join keys the shuffle on (table_idx, bucket), never all-pairs. Every
    candidate is verified with exact cosine, so precision is 1.0 by
    construction; recall at cosine c is 1-(1-q^p)^L with q = 1 - acos(c)/pi —
    probabilistic, which is the honest production algorithm: unlike
    simhash's pigeonhole banding there is NO deterministic candidate
    guarantee for angular distance at moderate thresholds. The defaults (p=3,
    L=8, threshold 0.40, ~0.90 expected recall on random vectors) are the
    documented worst-case anchor.

    ``bump`` switches to the REGIME LSH IS BUILT FOR: the vectors plus a
    planted near-exact twin of each (planted_nv_sql: coordinate 0 scaled by
    ``bump``, cosine ≈ 0.999), and an ``is_planted`` column. Per-pair
    table-collision probability at cosine c is (1 - θ/π)^p: ≈ 1 for the
    planted twins, ≈ 0.5^p for random pairs, so at p=8-12 candidate volume
    stays ~linear in N and the verified output is exactly the planted pair
    set. ``output="stats"`` (planted only) emits ONE row instead: candidate
    volume, verified pairs, planted pairs found, and the all-pairs count the
    candidates must stay far below.

    ``nv_sql`` / ``buckets_over_sql`` let the Spark runner substitute
    MATERIALIZED normed-vector and bucket tables: nv is consumed by three
    CTEs and buckets self-joins, and Spark inlines CTEs, so the inline form
    computes the p x L plane-dot buckets twice and the norms three times —
    at p=12 x L=8 the bucket bits ARE the cost. The DuckDB oracle keeps the
    self-contained template."""
    planted = bump is not None
    if nv_sql is not None:
        nv = f"nv AS ({nv_sql})"
    elif planted:
        nv = f"nv AS ({planted_nv_sql(d, bump)})"
    else:
        nv = cosine_cte(d)
    if buckets_over_sql is None:
        buckets_over_sql = lsh_buckets_sql(d, planes_per_table, n_tables, "nv")
    cos = f"{_dot(d, 'a.embedding', 'b.embedding')} / (a.nrm * b.nrm)"
    joins = """FROM cand
JOIN nv a ON a.vec_id = cand.id_a
JOIN nv b ON b.vec_id = cand.id_b"""
    is_planted = "(cand.id_b = cand.id_a + 1000000)"
    if output == "pairs":
        flag = f",\n       {is_planted} AS is_planted" if planted else ""
        tail = f"""SELECT {d.big('a.vec_id')} AS id_a, {d.big('b.vec_id')} AS id_b,
       round({cos}, 6) AS cosine{flag}
{joins}
WHERE {cos} >= {threshold}"""
    else:
        assert output == "stats" and planted, (output, bump)
        tail = f"""SELECT {d.big('count(*)')} AS n_candidates,
       {d.big(f'sum(CASE WHEN {cos} >= {threshold} THEN 1 ELSE 0 END)')} AS n_verified,
       {d.big(f'sum(CASE WHEN {is_planted} THEN 1 ELSE 0 END)')} AS n_planted_found,
       {d.div(f"(SELECT {d.big('count(*) * (count(*) - 1)')} FROM nv)", 2)} AS n_all_pairs
{joins}"""
    return f"""
WITH {nv},
buckets AS ({buckets_over_sql}),
cand AS (
  SELECT DISTINCT qa.vec_id AS id_a, qb.vec_id AS id_b
  FROM buckets qa JOIN buckets qb
    ON qa.tbl = qb.tbl AND qa.bucket = qb.bucket AND qa.vec_id < qb.vec_id
)
{tail}"""


def planted_nv_sql(d: D, bump: float) -> str:
    """The planted-twin normed-vector table of q_embed_dup_pairs_lsh(bump=...):
    originals + one near-exact twin each (coordinate 0 scaled by bump),
    with precomputed L2 norms."""
    pert = d.transform(
        d.seq(0, H.EMBED_DIM - 1),
        "i",
        f"cast({d.elem('embedding', 'i')} as double)"
        f" * (CASE WHEN i = 0 THEN {bump} ELSE 1.0 END)",
    )
    return f"""
  SELECT vec_id, embedding, sqrt({_dot(d, 'embedding', 'embedding')}) AS nrm
  FROM (
    SELECT vec_id, {d.transform('embedding', 'x', 'cast(x as double)')} AS embedding
    FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id, {pert} AS embedding FROM embeddings
  ) all0"""


def lsh_buckets_sql(
    d: D, planes_per_table: int, n_tables: int, nv_ref: str = "nv"
) -> str:
    """(vec_id, tbl, bucket) for every vector x table, reading vectors from
    ``nv_ref``: the random-hyperplane sign-bit bucket id (bit j set when the
    dot with plane j of table tbl is > 0) over L disjoint p-plane slices of
    the seeded pool (H.lsh_tables). The LSH family's one bucket renderer.
    Bucket count must scale with N: size p ~ log2(N / target_bucket_rows),
    else bucket population grows linearly with the corpus and the
    within-bucket join is quadratic.

    The two dialects get structurally different (value-identical) plans:

    - Spark: per table, one loop-form expression — higher-order folds over
      the constant-folded (planes x dim) literal matrix — as a plain
      projection column, then one explode. The loop form keeps every
      generated method under the 64KB codegen limit at any p x L; unrolled
      literal-plane arithmetic (p x dim terms per column) does not, once
      inlined into the explode/join/sort stages.
    - DuckDB: a RELATIONAL form — the plane matrix as a (tbl, j, w) VALUES
      table cross-joined to vectors, ONE list-dot per (vector, table, plane)
      row, then an integer bit-sum GROUP BY. DuckDB's binder/interpreter
      chokes on the p x L nested-lambda scalar expressions (67KB of SQL at
      p=12 x L=8; measured ~300s at sf0.01 vs ~2s relational). Buckets stay
      bit-identical: the per-plane dot is the same sequential left fold over
      the same round(·,6) literals, and the bit assembly is an order-free
      integer sum."""
    tables = H.lsh_tables(n_tables, planes_per_table)
    if d.spark:
        # positions come from size(embedding): besides reading naturally, the
        # second reference stops Catalyst's CollapseProject from inlining a
        # DERIVED embedding (the clustered fixture's blend) into the per-plane
        # lambda, where it would be recomputed p x dim times per vector
        cols = []
        for t, planes in enumerate(tables):
            pm = d.arr([d.arr(pl) for pl in planes])
            dot = d.fold_sum(
                d.transform(
                    d.seq(0, "size(embedding) - 1"),
                    "k",
                    f"cast({d.elem('embedding', 'k')} as double)"
                    f" * {d.elem(d.elem(pm, 'j'), 'k')}",
                )
            )
            bits = d.transform(
                d.seq(0, planes_per_table - 1),
                "j",
                f"CASE WHEN ({dot}) > 0 THEN shiftleft(1, cast(j as int)) ELSE 0 END",
            )
            cols.append(f"aggregate({bits}, 0, (acc, x) -> acc + cast(x as int)) AS b{t}")
        structs = ", ".join(
            f"named_struct('tbl', {t}, 'bucket', b{t})" for t in range(n_tables)
        )
        return (
            f"SELECT vec_id, bb.tbl AS tbl, bb.bucket AS bucket FROM "
            f"(SELECT vec_id, {', '.join(cols)} FROM {nv_ref}) bv "
            f"LATERAL VIEW explode(array({structs})) t AS bb"
        )
    rows = ",\n    ".join(
        f"({t}, {j}, {d.arr(pl)})"
        for t, planes in enumerate(tables)
        for j, pl in enumerate(planes)
    )
    dot = d.fold_sum(
        d.transform(
            d.seq(0, H.EMBED_DIM - 1),
            "k",
            f"cast({d.elem('v.embedding', 'k')} as double) * {d.elem('pl.w', 'k')}",
        )
    )
    return f"""WITH planes(tbl, j, w) AS (VALUES
    {rows}),
  dots AS (
    SELECT v.vec_id, pl.tbl, pl.j,
           {dot} AS dot
    FROM {nv_ref} v CROSS JOIN planes pl
  )
  SELECT vec_id, tbl,
         cast(sum(CASE WHEN dot > 0 THEN (1 << j) ELSE 0 END) as int) AS bucket
  FROM dots
  GROUP BY vec_id, tbl"""


def _probe_deltas(n_planes: int, radius: int) -> list[int]:
    """All bucket-xor masks with popcount <= radius — the multi-probe set.
    Rendered as INTEGER LITERALS in both dialects, so probe enumeration is
    engine-identical by construction (no per-engine bit loops)."""
    from itertools import combinations

    deltas = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_planes), r):
            deltas.append(sum(1 << b for b in bits))
    return deltas


def q_embed_lsh_ann(
    d: D,
    k: int = 3,
    planes_per_table: int = 8,
    n_tables: int = 1,
    radius: int = 0,
    n_queries: int | None = None,
    stats: bool = False,
    source: str = "embeddings",
) -> str:
    """ANN via hyperplane-LSH buckets — the whole (planes x tables x probes)
    search dial in one template: every query (the first ``n_queries``
    vectors, or all of them) probes, in each of the L independent plane
    tables, its own bucket plus every bucket within Hamming distance
    ``radius`` (Lv et al., VLDB'07 multi-probe, composed with the classic
    multi-table OR-amplification), then ranks the candidates by exact cosine.
    Per-neighbor miss probability at angle theta is (1 - P(Hamming<=radius))^L
    with per-plane agreement q = 1 - theta/pi, so recall climbs in L and
    radius while candidate volume grows ~L * probes * N / 2^p. The defaults
    are the single-table single-probe point (2^8 buckets); the candidate
    join is a bucket equi-join at every point, never all-pairs.

    Candidates are DEDUPLICATED across tables and probes before scoring
    (SELECT DISTINCT), so n_cand_q (``stats=True``, for recall_with_cost_sql)
    counts vectors actually cosine-scored — the honest paid cost. ``bucket``
    is the query's own table-0 bucket."""
    delta_join = d.explode_join(d.arr(_probe_deltas(planes_per_table, radius)), "delta")
    q_filter = "" if n_queries is None else f" WHERE vec_id < {n_queries}"
    cos = f"{_dot(d, 'q.embedding', 'c.embedding')} / (q.nrm * c.nrm)"
    cand_col, cand_out = _cand_stats(d, stats)
    return f"""
WITH {cosine_cte(d, source)},
bk AS ({lsh_buckets_sql(d, planes_per_table, n_tables, "nv")}),
qb AS (
  SELECT vec_id, tbl, bucket FROM bk{q_filter}
),
probes AS (
  SELECT vec_id, tbl, {d.xor('bucket', 'delta')} AS probe
  FROM qb {delta_join}
),
cand AS (
  SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS cand_id
  FROM probes p
  JOIN bk c ON c.tbl = p.tbl AND c.bucket = p.probe AND c.vec_id <> p.vec_id
),
scored AS (
  SELECT cand.query_id, cand.cand_id AS neighbor_id,
         round({cos}, 6) AS cosine
  FROM cand
  JOIN nv q ON q.vec_id = cand.query_id
  JOIN nv c ON c.vec_id = cand.cand_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk{cand_col}
  FROM scored
)
SELECT {d.big('query_id')} AS query_id, {d.big('neighbor_id')} AS neighbor_id,
       cast(qb.bucket as int) AS bucket, cosine, cast(rnk as int) AS rnk{cand_out}
FROM ranked JOIN qb ON qb.vec_id = ranked.query_id AND qb.tbl = 0
WHERE rnk <= {k}"""


def q_embed_ivf_ann(
    d: D,
    k: int = 3,
    n_queries: int = 30,
    n_cells: int | None = None,
    nprobe: int | None = None,
    centroids: list | None = None,
    rounds: int = 0,
    source: str = "embeddings",
    stats: bool = False,
) -> str:
    """IVF ANN: every vector is assigned to its nearest centroid (primary
    cell); each query searches its `nprobe` nearest cells with exact cosine
    top-k inside them. The cell assignment keys the shuffle, so at scale the
    search joins only within probed cells — the IVF counterpart of the
    hyperplane-LSH bucket path (q_embed_lsh_ann).

    `n_cells` and `nprobe` are parameters because they ARE the scale knobs:
    production sizes cells ~ sqrt(N) (bounded cell population as N grows) and
    nprobe > 1 recovers the recall lost at cell boundaries.

    The centroid matrix is the literal ``c0`` — ``centroids`` (e.g. collected
    k-means-refined centroids, operators/kmeans.py) or the seeded pool's
    first n_cells — refined by ``rounds`` fixed Lloyd's rounds in-SQL
    (_kmeans_chain) when rounds > 0; the search runs against ``c{rounds}``.
    One template, both engines, so with rounds > 0 the DuckDB oracle
    re-derives the refinement AND the search. Assignment is the N x C dots
    against the one-row matrix (the broadcast-join shape against a tiny
    centroid table) as a loop-form lambda, then posexplode + rank per vector
    for the nprobe nearest cells. ``stats=True`` adds the per-query candidate
    count n_cand_q for recall_with_cost_sql."""
    if centroids is None:
        centroids = H.IVF_CENTROID_POOL[: H.IVF_CELLS if n_cells is None else n_cells]
    n_cells = len(centroids)
    nprobe = H.IVF_NPROBE if nprobe is None else nprobe
    ctes = _kmeans_chain(d, centroids, rounds, source=source)
    if d.spark:
        assign_inner = (
            "SELECT vec_id, embedding, nrm, cell AS cell_id, cdot\n"
            "    FROM dvals LATERAL VIEW posexplode(darr) t AS cell, cdot"
        )
    else:
        assign_inner = (
            "SELECT vec_id, embedding, nrm, cast(i.i as int) AS cell_id, "
            "darr[i.i + 1] AS cdot\n"
            f"    FROM dvals, (SELECT unnest(range(0, {n_cells})) AS i) i"
        )
    cos = f"{_dot(d, 'q.embedding', 'c.embedding')} / (q.nrm * c.nrm)"
    ctes.append(cosine_cte(d, source))
    ctes.append(
        f"dvals AS ({_cells_sql(d, n_cells, 'nv', 'vec_id, embedding, nrm', f'c{rounds}')})"
    )
    body = ",\n".join(ctes)
    cand_col, cand_out = _cand_stats(d, stats)
    return f"""
WITH {body},
assign AS (
  SELECT vec_id, embedding, nrm, cell_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, cell_id) AS crank
  FROM (
    {assign_inner}
  ) t
),
data AS (
  SELECT vec_id, embedding, nrm, cell_id FROM assign WHERE crank = 1
),
probes AS (
  SELECT vec_id, cell_id FROM assign WHERE crank <= {nprobe} AND vec_id < {n_queries}
),
scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id, c.cell_id AS cell,
         round({cos}, 6) AS cosine
  FROM probes p
  JOIN nv q ON q.vec_id = p.vec_id
  JOIN data c ON c.cell_id = p.cell_id AND c.vec_id <> p.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cell, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk{cand_col}
  FROM scored
)
SELECT {d.big('query_id')} AS query_id, {d.big('neighbor_id')} AS neighbor_id,
       cast(cell as int) AS cell, cosine, cast(rnk as int) AS rnk{cand_out}
FROM ranked WHERE rnk <= {k}"""


# ======================================================================================
# Relational operator coverage (TPC-H-ish; SURVEY §2.4-2.6 J/A/T families)
# ======================================================================================

def q_tpch_q1(d: D) -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       {d.big('count(*)')} AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""


def q_topk_revenue_orders(d: D, k: int = 10) -> str:
    """T1/T2-family global top-k: top revenue orders for one segment, total
    tie-break (revenue, orderkey).

    Scale note: ORDER BY + LIMIT first (Spark plans TakeOrderedAndProject — a
    parallel per-partition partial top-k, no single-partition exchange), THEN a
    row_number window over just the k survivors. A global window over the full
    aggregate would funnel every row into one partition."""
    return f"""
WITH rev AS (
  SELECT o.o_orderkey, o.o_orderpriority,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
  GROUP BY o.o_orderkey, o.o_orderpriority
),
top AS (
  SELECT * FROM rev ORDER BY revenue DESC, o_orderkey LIMIT {k}
)
SELECT {d.big('o_orderkey')} AS o_orderkey, o_orderpriority, revenue,
       cast(row_number() OVER (ORDER BY revenue DESC, o_orderkey) as int) AS rnk
FROM top"""


def q_regional_revenue(d: D) -> str:
    """Q5-shape multi-way join with two broadcastable dims (region, nation)."""
    return f"""
SELECT r.r_name AS region, n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       {d.big('count(*)')} AS n_items
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY r.r_name, n.n_name"""


def q_window_topk_per_order(d: D, k: int = 3) -> str:
    """T2: top-k lineitems per order by price (per-key window rank)."""
    return f"""
WITH ranked AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber) AS rnk
  FROM lineitem
)
SELECT {d.big('l_orderkey')} AS l_orderkey, cast(l_linenumber as int) AS l_linenumber,
       round(l_extendedprice, 2) AS l_extendedprice, cast(rnk as int) AS rnk
FROM ranked WHERE rnk <= {k}"""


def q_semi_join_returned(d: D) -> str:
    """J2/F2 semi-join: orders having at least one returned lineitem."""
    return f"""
SELECT o_orderstatus, {d.big('count(*)')} AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderstatus"""


def q_anti_join_idle_customers(d: D) -> str:
    """Anti-join (the checkpoint-resume primitive: 'rows not yet processed')."""
    return f"""
SELECT c_mktsegment, {d.big('count(*)')} AS n_idle
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment"""


def q_customer_set_ops(d: D) -> str:
    """Set operators beyond UNION (the U-family completion): customers active
    in both event windows (INTERSECT), early-only (EXCEPT), plus symmetric
    difference — the cohort-overlap question every retention analysis asks.
    Both engines plan these as aggregates/joins on the key, so at 10^12 rows
    each branch is one hash-partitioned exchange on user_id; the three counts
    come from ONE two-sided membership aggregate rather than three separate
    set-op scans (the set ops are the spec; the single-pass form is the plan)."""
    day = "cast(ts as date)"
    return f"""
WITH spans AS (
  SELECT user_id,
         max(CASE WHEN {day} <= date '2024-02-15' THEN 1 ELSE 0 END) AS early,
         max(CASE WHEN {day} >  date '2024-02-15' THEN 1 ELSE 0 END) AS late
  FROM events GROUP BY user_id
)
SELECT {d.big('sum(CASE WHEN early = 1 AND late = 1 THEN 1 ELSE 0 END)')} AS n_both,
       {d.big('sum(CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0 END)')} AS n_early_only,
       {d.big('sum(CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0 END)')} AS n_late_only,
       {d.big('count(*)')} AS n_users
FROM spans"""


def q_rollup_priority(d: D) -> str:
    """A2 rollup: order counts by (priority, status) with subtotal levels."""
    return f"""
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       {d.big('count(*)')} AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)"""


# ======================================================================================
# Events: routing / JSON / sessionization / as-of
# ======================================================================================

def q_events_daily_route(d: D) -> str:
    """U5 router on the events stream: tag -> per-sink daily counts."""
    route = ("CASE WHEN event_type IN ('purchase','signup') THEN 'conversion' "
             "WHEN event_type = 'error' THEN 'error' ELSE 'engagement' END")
    day = d.day("ts")
    return f"""
SELECT {day} AS day, {route} AS route,
       {d.big('count(*)')} AS n_events,
       round(sum(value), 4) AS total_value
FROM events GROUP BY {day}, {route}"""


def q_events_json_k(d: D) -> str:
    """P-stage scalar: JSON field extraction + conditional agg per event type."""
    k = f"cast({d.json_str('props', 'k')} as int)"
    return f"""
SELECT event_type,
       {d.big('count(*)')} AS n,
       {d.big(f'sum({k})')} AS sum_k,
       round(avg({k}), 6) AS avg_k,
       {d.big(f"sum(CASE WHEN {k} >= 50 THEN 1 ELSE 0 END)")} AS n_high
FROM events GROUP BY event_type"""


def q_events_sessionize(d: D, gap_min: int = 30) -> str:
    """Gap-based sessionization: a new session starts when the gap from the
    previous event of the same user exceeds {gap}min (batch analog of the
    streaming session window)."""
    prev = "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    gap = f"({d.epoch_sec('ts')} - {d.epoch_sec('prev_ts')})"
    return f"""
WITH seq AS (
  SELECT user_id, event_id, ts, {prev} AS prev_ts FROM events
),
flags AS (
  SELECT user_id, event_id,
         CASE WHEN prev_ts IS NULL OR {gap} > {gap_min * 60} THEN 1 ELSE 0 END AS new_session
  FROM seq
)
SELECT {d.big('user_id')} AS user_id,
       {d.big('sum(new_session)')} AS n_sessions,
       {d.big('count(*)')} AS n_events
FROM flags GROUP BY user_id"""


def windows_cte(d: D, n_windows: int = 24, step_hours: int = 30, len_hours: int = 8) -> str:
    """Deterministic maintenance-window dimension over the events month:
    window w = [2024-01-01 + w*step, +len)."""
    if d.spark:
        return (
            "SELECT cast(id as int) AS window_id, "
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0, cast(id * "
            f"{step_hours} as int), 0, 0) AS w_start, "
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0, cast(id * "
            f"{step_hours} + {len_hours} as int), 0, 0) AS w_end "
            f"FROM range({n_windows})"
        )
    return (
        "SELECT CAST(w AS INT) AS window_id, "
        f"TIMESTAMP '2024-01-01 00:00:00' + (w * {step_hours}) * INTERVAL 1 HOUR AS w_start, "
        f"TIMESTAMP '2024-01-01 00:00:00' + (w * {step_hours} + {len_hours}) * INTERVAL 1 HOUR AS w_end "
        f"FROM range({n_windows}) t(w)"
    )


def q_events_window_join(d: D) -> str:
    """RANGE JOIN baseline: events falling inside each maintenance window via a
    non-equi join (ts >= w_start AND ts < w_end). Spark plans this as a
    BroadcastNestedLoopJoin — fine while the window dim broadcasts, quadratic
    the moment it doesn't; q_events_window_join_binned is the scale path."""
    return f"""
WITH windows AS ({windows_cte(d)})
SELECT w.window_id, {d.big('count(*)')} AS n_events,
       round(sum(e.value), 4) AS total_value
FROM windows w
JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.window_id"""


def q_events_window_join_binned(d: D, bin_secs: int = 4 * 3600) -> str:
    """RANGE JOIN, scale path: bucketize time into fixed bins, explode each
    window to the bins it covers, EQUI-join events on the bin, then verify the
    exact range. The shuffle keys on the bin id, so the join scales with
    events x windows-per-bin instead of events x windows — the standard
    binned-interval-join rewrite Spark lacks natively (Databricks ships it as
    a hint). Output identical to q_events_window_join (plan-shape guard:
    tests/test_plans.py asserts no nested-loop join here)."""
    end_sec = d.epoch_sec("w_end")
    w_bins = d.seq(
        d.div(d.epoch_sec("w_start"), bin_secs),
        d.div(f"({end_sec} - 1)", bin_secs),
    )
    wbins_sql = f"SELECT window_id, w_start, w_end, {d.explode(w_bins)} AS bin FROM windows"
    return f"""
WITH windows AS ({windows_cte(d)}),
wbins AS (
  {wbins_sql}
),
ebins AS (
  SELECT ts, value, {d.div(d.epoch_sec('ts'), bin_secs)} AS bin FROM events
)
SELECT w.window_id, {d.big('count(*)')} AS n_events,
       round(sum(e.value), 4) AS total_value
FROM wbins w
JOIN ebins e ON e.bin = w.bin AND e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.window_id"""


def q_events_value_percentiles(d: D) -> str:
    """Exact interpolated percentiles of event value per type (Spark
    `percentile` ≡ DuckDB `quantile_cont`: same (1-f)*lo + f*hi definition, so
    the doubles match bitwise across engines).

    Scale note: EXACT percentile buffers every group value (Spark's
    aggregation collects the column per group) — fine for bounded groups,
    memory-unbounded at 10^12 rows/group. The production swap is
    approx_percentile (t-digest sketch: mergeable, bounded memory, one pass);
    it has no cross-engine-exact oracle by nature, so this exact form is the
    registered anchor and tests/test_dedup_similarity.py bounds the sketch's
    error against it."""
    cols = ",\n       ".join(
        f"round({d.percentile('value', p)}, 6) AS p{int(p * 100)}" for p in (0.5, 0.9, 0.99)
    )
    return f"""
SELECT event_type,
       {cols},
       {d.big('count(*)')} AS n
FROM events GROUP BY event_type"""


def q_events_error_gap(d: D) -> str:
    """As-of-join analog: for each error event, seconds since the user's most
    recent prior 'view' event (running conditional max over an ordered window)."""
    prior_view = ("max(CASE WHEN event_type = 'view' THEN ts END) "
                  "OVER (PARTITION BY user_id ORDER BY ts, event_id "
                  "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)")
    return f"""
WITH w AS (
  SELECT user_id, event_id, ts, event_type, {prior_view} AS prior_view_ts
  FROM events
)
SELECT {d.big('event_id')} AS event_id, {d.big('user_id')} AS user_id,
       cast({d.epoch_sec('ts')} - {d.epoch_sec('prior_view_ts')} as bigint) AS secs_since_view
FROM w WHERE event_type = 'error'"""


# ======================================================================================
# Training-data hygiene: PII redaction, repetition quality gates, retrieval scoring
# ======================================================================================

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def q_pii_redact(d: D) -> str:
    """PII detection + redaction (the C4/Dolma-style scrub stage every
    training-data pipeline runs before anything else): emails, phone numbers,
    IPv4 addresses detected with shared-subset regexes (Java + RE2 compatible)
    and replaced with typed placeholder tokens, plus per-category counts for
    the removal audit log.

    The driver's synthetic corpus contains no PII, so the query first plants
    deterministic PII spans (keyed on doc_id, same formula in both engines) and
    then redacts them — the oracle checks the *redaction*, not the planting.

    Scale note: pure per-row regexp_replace/regexp_count — narrow, zero
    shuffle, whole-stage codegen; the scan prunes to (doc_id, text). At
    10^12 docs this stage is IO-bound, exactly as it should be."""
    email, phone, ip = PII_EMAIL_RE, PII_PHONE_RE, PII_IPV4_RE
    planted = (
        "CASE WHEN doc_id % 4 = 0 THEN text || ' reach me at user' || "
        f"{d.to_str('doc_id')} || '@mail-example.com today'\n"
        "         WHEN doc_id % 4 = 1 THEN text || ' hotline 555-' || "
        f"{d.to_str('doc_id % 900 + 100')} || '-0142 ext 9'\n"
        "         WHEN doc_id % 4 = 2 THEN text || ' origin host 10.20.' || "
        f"{d.to_str('doc_id % 256')} || '.7 logged'\n"
        "         ELSE text END"
    )
    redacted = d.re_replace(
        d.re_replace(d.re_replace("text", email, "'<EMAIL>'"), phone, "'<PHONE>'"),
        ip,
        "'<IP>'",
    )
    return f"""
WITH seeded AS (
  SELECT doc_id, {planted} AS text FROM documents
)
SELECT {d.big('doc_id')} AS doc_id,
       {redacted} AS redacted_text,
       cast({d.regexp_count('text', email)} as int) AS n_emails,
       cast({d.regexp_count('text', phone)} as int) AS n_phones,
       cast({d.regexp_count('text', ip)} as int) AS n_ips,
       ({d.regexp_count('text', email)} + {d.regexp_count('text', phone)}
        + {d.regexp_count('text', ip)} > 0) AS has_pii
FROM seeded"""


def q_quality_repetition(d: D, top_frac_max: float = 0.20, dup_frac_max: float = 0.60) -> str:
    """Gopher-style repetition quality gate (Rae et al. 2021 §A1.1: documents
    dominated by a few repeated n-grams are boilerplate/spam): per doc, the
    fraction of 2-grams covered by the single most frequent 2-gram and the
    fraction that are duplicates, plus the keep/drop verdict at the published
    thresholds.

    Scale note: explode→groupBy with map-side partial aggregation; the grams
    are hashed (h7) BEFORE the shuffle so exchange rows carry a fixed-width
    int, not a variable-width bigram string — at 10^12 docs the shuffle is the
    whole cost and ~30 bytes/gram saved is ~30% of it. 28-bit collisions only
    matter *within* one doc's gram set (~10^2-10^4 distinct grams), where the
    collision odds are negligible and identical in both engines.

    Docs shorter than 2 words get no gram (word_ngrams) and drop out of the
    repetition stats, which is the correct Gopher semantics (no bigrams →
    nothing to gate on)."""
    grams = d.explode(word_ngrams(d, 2))
    return f"""
WITH grams AS (SELECT doc_id, {grams} AS gram FROM ({words_sql(d)}) s),
freq AS (
  SELECT doc_id, {d.h7('gram')} AS gh, count(*) AS c
  FROM grams GROUP BY doc_id, {d.h7('gram')}
),
agg AS (
  SELECT doc_id, max(c) AS top_c, {d.big('sum(c)')} AS tot, count(*) AS uniq
  FROM freq GROUP BY doc_id
)
SELECT {d.big('doc_id')} AS doc_id,
       round(cast(top_c as double) / tot, 6) AS top_bigram_frac,
       round(1 - cast(uniq as double) / tot, 6) AS dup_bigram_frac,
       cast(tot as int) AS n_bigrams,
       (cast(top_c as double) / tot <= {top_frac_max}
        AND 1 - cast(uniq as double) / tot <= {dup_frac_max}) AS keep
FROM agg"""


def ngram_spans_grams_sql(d: D, n: int = 8) -> str:
    """The (doc_id, pos, gh) gram stream of q_dedup_ngram_spans: position +
    28-bit hash of each n-word gram (word_ngrams; none below n words)."""
    arred = f"SELECT doc_id, {word_ngrams(d, n, hashed=True)} AS garr FROM ({words_sql(d)}) s"
    if d.spark:
        return f"SELECT doc_id, pos, gh FROM ({arred}) LATERAL VIEW posexplode(garr) AS pos, gh"
    return (
        f"SELECT doc_id, CAST(unnest(range(0, len(garr))) AS INT) AS pos, unnest(garr) AS gh "
        f"FROM ({arred}) t"
    )


def q_dedup_ngram_spans(
    d: D, n: int = 8, frac_max: float = 0.30, grams_sql: str | None = None
) -> str:
    """Cross-document duplicated-substring coverage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": exact substring
    dedup at n-gram granularity — the complement of doc-level dedup, catching
    boilerplate shared across otherwise-distinct documents). Per doc: how many
    token n-grams also occur in ANOTHER doc, the exact count of tokens covered
    by the union of those duplicated spans (gaps-and-islands interval union,
    not naive n x count which double-counts overlaps), and the keep verdict at
    a coverage threshold.

    Scale notes for 10^12 docs:
      * grams are hashed (h7) INSIDE the per-row transform, so the explode and
        the exchange carry a fixed-width int, never the n-word string;
      * "appears in >1 doc" is a groupBy(gh) pre-aggregate of (min, max
        doc_id) shuffle-joined back on gh. The pre-agg map-side-combines (one
        row per distinct gram per task reaches the exchange) and — unlike the
        PARTITION BY gh window this replaced — a degenerate hot gram
        (boilerplate shared by 10^8 docs) is an AQE-skew-splittable JOIN key,
        not a single giant window partition pinned to one task. The dup-gram
        stats table is NOT broadcast (at corpus scale it is itself huge); both
        sides shuffle on gh. Cost: the gram explode is computed twice (once
        per join side) — a linear re-scan, traded for removing the only
        unsplittable skew point in the plan. Constant per-gram state, never
        count(distinct);
      * the interval-union window partitions by doc_id and is bounded by doc
        length — no global window, no skew beyond the longest single doc.
    28-bit gram-hash collisions can mark a false duplicate; production uses the
    same plan over a 64-bit hash (the narrow column width is what matters).

    Docs shorter than n words get no gram (word_ngrams) and are restored by
    the final left join with zero coverage. The word array is staged as a
    column (words_sql; measured ~2x on this corpus against re-splitting per
    gram).

    The `grams` stream is consumed TWICE (the gstats pre-agg and the join-back
    side) and Spark inlines CTEs, so the inline form re-runs the explode+hash
    — measured ~3x at sf0.1. The Spark runner
    (testdata_queries.q_dedup_ngram_spans_runner) passes ``grams_sql`` to read
    a persisted gram table instead — the same materialize-the-sketch decision
    as the minhash/simhash runners; at cluster scale this is 'write the gram
    stream once, aggregate and join from it'. The DuckDB oracle keeps the
    self-contained template (DuckDB materializes multi-referenced CTEs)."""
    grams_from = grams_sql or ngram_spans_grams_sql(d, n)
    w = d.split_ws("text")
    prev_end = (
        f"max(pos + {n}) OVER (PARTITION BY doc_id ORDER BY pos "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    return f"""
WITH grams AS ({grams_from}),
gstats AS (
  SELECT gh, min(doc_id) AS mn, max(doc_id) AS mx
  FROM grams GROUP BY gh
),
hits AS (
  SELECT g.doc_id, g.pos
  FROM grams g JOIN gstats t ON g.gh = t.gh
  WHERE t.mn <> t.mx
),
clipped AS (
  SELECT doc_id, pos, greatest(pos, coalesce({prev_end}, 0)) AS clip_start
  FROM hits
),
per_doc AS (
  SELECT doc_id, count(*) AS n_dup_grams,
         {d.big(f'sum(greatest(pos + {n} - clip_start, 0))')} AS covered
  FROM clipped GROUP BY doc_id
),
docstats AS (
  SELECT doc_id, {d.alen(w)} AS n_tokens, greatest({d.alen(w)} - {n} + 1, 0) AS n_grams
  FROM documents
)
SELECT {d.big('s.doc_id')} AS doc_id,
       cast(s.n_tokens as int) AS n_tokens,
       cast(s.n_grams as int) AS n_grams,
       cast(coalesce(p.n_dup_grams, 0) as int) AS n_dup_grams,
       cast(coalesce(p.covered, 0) as int) AS dup_tokens,
       round(cast(coalesce(p.covered, 0) as double) / s.n_tokens, 6) AS dup_token_frac,
       (cast(coalesce(p.covered, 0) as double) / s.n_tokens <= {frac_max}) AS keep
FROM docstats s LEFT JOIN per_doc p ON s.doc_id = p.doc_id"""


# 13 words: one exact n-gram shared by eval docs and planted-contaminated docs.
DECON_CANARY = (
    "held out benchmark suite question answer pair canary phrase alpha beta gamma delta"
)


def q_decontaminate_eval(d: D, n: int = 13) -> str:
    """Benchmark decontamination (GPT-3 appendix C / PaLM §C: drop or flag
    training documents that share any 13-gram with an evaluation benchmark —
    the standard pre-training hygiene step this family was missing). The eval
    set is the deterministic ``doc_id % 20 = 0`` slice; contamination is
    planted the way q_pii_redact plants PII — a fixed 13-word canary appended
    to every eval doc AND to training docs with ``doc_id % 7 = 3`` (same
    formula in both engines) — so the expected hit set is known and the oracle
    checks the *detection*, not the planting.

    Output: one row per TRAINING doc — its 13-gram count, how many gram
    positions collide with the eval set, the overlap fraction, and the
    contaminated flag.

    Scale notes for 10^12 training docs:
      * real eval benchmarks are tiny relative to the corpus (10^6-10^8
        grams), so the distinct eval-gram set is BROADCAST (hinted on the
        Spark side) — the training gram stream never shuffles for the join;
        the only exchange is the per-doc count agg, which map-side-combines
        to one row per doc because a doc's grams are co-located at the scan.
      * grams are h7-hashed INSIDE the transform: the explode, the join key,
        and the broadcast table all carry fixed-width ints, never 13-word
        strings (~8 bytes/gram broadcast instead of ~100). 28-bit collisions
        can flag a false positive; production uses a 64-bit prefix with the
        identical plan.
      * docs shorter than n words contribute zero grams (word_ngrams); they
        are restored by the final left join, flagged clean with n_grams = 0."""
    seeded = (
        "SELECT doc_id,\n"
        f"         CASE WHEN doc_id % 20 = 0 THEN text || ' {DECON_CANARY}'\n"
        f"              WHEN doc_id % 7 = 3 THEN text || ' {DECON_CANARY}'\n"
        "              ELSE text END AS text,\n"
        "         (doc_id % 20 = 0) AS is_eval\n"
        "  FROM documents"
    )
    staged = words_sql(d, "doc_id, is_eval", "seeded")
    arred = f"SELECT doc_id, is_eval, {word_ngrams(d, n, hashed=True)} AS garr FROM ({staged}) s"
    grams_from = f"SELECT doc_id, is_eval, {d.explode('garr')} AS gh FROM ({arred}) g"
    return f"""
WITH seeded AS (
  {seeded}
),
grams AS (
  {grams_from}
),
eg AS (
  SELECT DISTINCT gh FROM grams WHERE is_eval
),
hits AS (
  SELECT {d.broadcast('e')}t.doc_id, count(e.gh) AS n_hits, count(*) AS n_grams
  FROM grams t LEFT JOIN eg e ON t.gh = e.gh
  WHERE NOT t.is_eval
  GROUP BY t.doc_id
)
SELECT {d.big('s.doc_id')} AS doc_id,
       cast(coalesce(h.n_grams, 0) as int) AS n_grams,
       cast(coalesce(h.n_hits, 0) as int) AS n_eval_hits,
       round(cast(coalesce(h.n_hits, 0) as double)
             / greatest(coalesce(h.n_grams, 0), 1), 6) AS overlap_frac,
       (coalesce(h.n_hits, 0) > 0) AS contaminated
FROM seeded s LEFT JOIN hits h ON s.doc_id = h.doc_id
WHERE NOT s.is_eval"""


def q_quality_perplexity(d: D, k_smooth: float = 0.5, ppl_max: float = 30.0) -> str:
    """CCNet-style language-model quality filter (Wenzek et al. 2020: score
    every document by LM perplexity and keep the low-perplexity head). CCNet
    ships an offline KenLM; here the model IS the corpus — an add-k-smoothed
    bigram LM estimated from the same table in one aggregation pass — i.e. the
    self-scoring variant used for in-domain filtering when no external LM can
    be distributed with the job.

    Per doc: bigram count, cross-entropy -avg ln P(w2|w1), perplexity exp(H),
    and the keep verdict at ``ppl_max`` (applied to the ROUNDED perplexity so
    float summation order cannot flip the flag between engines).

    Scale notes for 10^12 docs:
      * the model is two count tables built by groupBy with map-side partial
        aggregation; keys are h7-hashed so exchange rows are fixed-width ints.
        Model size is bounded by distinct (context, word) pairs — vocabulary
        structure, not corpus size.
      * scoring joins the per-position bigram stream back to the model. At
        real vocabulary sizes the bigram table exceeds broadcast limits, so
        the honest plan shuffles both sides on the gram hash (linear,
        AQE-coalesced); for small domain vocabularies AQE auto-broadcasts the
        count tables and the shuffle on the big side disappears.
      * the per-doc avg collapses map-side (a doc's grams are co-located);
        vocabulary size enters as an uncorrelated scalar subquery, not a
        cross join.
      * sub-2-word docs have no bigrams (word_ngrams) to score and drop out,
        the same undefined-perplexity semantics CCNet assigns to empty text."""
    bg_from = f"SELECT doc_id, {d.explode(word_ngrams(d, 2))} AS gram FROM ({words_sql(d)}) s"
    uni_from = f"SELECT {d.explode(d.split_ws('text'))} AS u FROM documents"
    logp = (
        f"ln((c2.c2 + {k_smooth}) / (c1.c1 + {k_smooth} * (SELECT vocab FROM v)))"
    )
    return f"""
WITH bg AS (
  {bg_from}
),
sc AS (
  SELECT doc_id, {d.h7('gram')} AS g2, {d.h7("split_part(gram, ' ', 1)")} AS g1 FROM bg
),
cnt2 AS (
  SELECT g2, cast(count(*) as double) AS c2 FROM sc GROUP BY g2
),
cnt1 AS (
  SELECT g1, cast(count(*) as double) AS c1 FROM sc GROUP BY g1
),
v AS (
  SELECT cast(count(DISTINCT u) as double) AS vocab FROM ({uni_from}) uu
),
lp AS (
  SELECT s.doc_id, {logp} AS l
  FROM sc s JOIN cnt2 c2 ON s.g2 = c2.g2 JOIN cnt1 c1 ON s.g1 = c1.g1
)
SELECT {d.big('doc_id')} AS doc_id,
       cast(count(*) as int) AS n_bigrams,
       round(-avg(l), 6) AS cross_entropy,
       round(exp(-avg(l)), 4) AS perplexity,
       (round(exp(-avg(l)), 4) <= {ppl_max}) AS keep
FROM lp GROUP BY doc_id"""


def q_bm25_search(d: D, terms: tuple = ("spark", "merge", "vector"), k: int = 10,
                  k1: float = 1.2, b: float = 0.75) -> str:
    """BM25 keyword retrieval over the corpus — the reference's query→retrieve
    stage (SURVEY §2.1 S5-S7) recast as real corpus-side ranking instead of a
    web API call: tf from an explode→groupBy, df/avgdl as tiny scalar
    aggregates, Robertson idf, top-k by rounded score with doc_id tiebreak.

    Scale note: the ONLY big shuffle is tf (narrow after the WHERE prunes
    non-query terms at the map side — for a 3-term query the exchange carries
    ~0 rows per doc); df and corpus stats are scalar-subquery broadcasts, and
    the final top-k is TakeOrderedAndProject (no global sort). Scores are
    rounded to 6 dp *before* ranking so float summation order can't flip ranks
    between engines."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    words_from = f"SELECT doc_id, {d.explode(d.split_ws('text'))} AS word FROM documents"
    dl = d.alen(d.split_ws("text"))
    idf = "ln(1 + ((SELECT n_docs FROM stats) - df + 0.5) / (df + 0.5))"
    return f"""
WITH stats AS (
  SELECT cast(count(*) as double) AS n_docs, avg({dl}) AS avgdl FROM documents
),
tf AS (
  SELECT doc_id, word AS term, cast(count(*) as double) AS tf
  FROM ({words_from}) t WHERE word IN ({in_list})
  GROUP BY doc_id, word
),
df AS (
  SELECT term, cast(count(*) as double) AS df, {idf} AS idf FROM tf GROUP BY term
),
dl AS (
  SELECT doc_id, cast({dl} as double) AS dl FROM documents
),
scored AS (
  SELECT tf.doc_id,
         round(sum(df.idf * tf.tf * {k1 + 1}
                   / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / (SELECT avgdl FROM stats)))), 6) AS bm25,
         cast(count(*) as int) AS n_terms_matched
  FROM tf JOIN df ON tf.term = df.term JOIN dl ON tf.doc_id = dl.doc_id
  GROUP BY tf.doc_id
)
SELECT {d.big('doc_id')} AS doc_id, bm25, n_terms_matched
FROM scored ORDER BY bm25 DESC, doc_id LIMIT {k}"""


def q_events_scd2(d: D) -> str:
    """SCD2 state-interval build from the event changelog (the log-pipeline
    'latest state + full history' table every warehouse derives): collapse
    consecutive same-type runs per user (gaps-and-islands), emit
    [valid_from, valid_to) intervals with valid_to = next run's start and
    is_current on the open run.

    Scale note: two window passes over the SAME (user_id | ts,event_id)
    ordering — Catalyst plans ONE exchange + sort and reuses it for both lag
    and the running sum; the groupBy keys on (user_id, run_id), a prefix of
    the existing partitioning. Skewed mega-users are the same hazard as
    mega-conversations; the salted two-phase pattern (operators/skew.py)
    applies unchanged."""
    order = "PARTITION BY user_id ORDER BY ts, event_id"
    return f"""
WITH marked AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(event_type) OVER ({order}) = event_type THEN 0 ELSE 1 END AS chg
  FROM events
),
runs AS (
  SELECT user_id, event_id, ts, event_type,
         sum(chg) OVER ({order} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM marked
),
intervals AS (
  SELECT user_id, run_id, min(event_type) AS state,
         min(ts) AS from_ts, {d.big('count(*)')} AS n_events
  FROM runs GROUP BY user_id, run_id
)
SELECT {d.big('user_id')} AS user_id,
       cast(run_id as int) AS run_seq,
       state,
       {d.epoch_sec('from_ts')} AS valid_from,
       {d.epoch_sec("lead(from_ts) OVER (PARTITION BY user_id ORDER BY run_id)")} AS valid_to,
       (lead(from_ts) OVER (PARTITION BY user_id ORDER BY run_id) IS NULL) AS is_current,
       n_events
FROM intervals"""


def q_events_distinct_daily(d: D) -> str:
    """Exact daily distinct users + event volume — the cardinality anchor for
    the HLL sketch path. count(DISTINCT) expands to a two-phase partial
    distinct in Spark (dedup on (day, user) map-side, then count) — exact but
    shuffle-heavy at 10^12 rows. The production swap is approx_count_distinct
    / hll_sketch_agg (HyperLogLog: fixed ~KB state, MERGEABLE across
    partitions and days — the property exact distinct fundamentally lacks);
    tests/test_sketches.py bounds both against this anchor and checks sketch
    mergeability (union of per-day sketches ≡ global estimate)."""
    day = d.day("ts")
    return f"""
SELECT {day} AS day,
       {d.big('count(DISTINCT user_id)')} AS n_users,
       {d.big('count(*)')} AS n_events
FROM events GROUP BY {day}"""


def pack_sequences_oracle(cap: int = 256) -> str:
    """DuckDB-only oracle for the sequence packer (operators/packing.py): the
    same greedy first-fit replayed as a recursive CTE whose state is
    (bin, fill, accumulated rows) per stream — the chunk_passages_oracle
    pattern for sequential-per-key operators."""
    d = D("duckdb")
    n_tok = d.alen(d.split_ws("text"))
    return f"""
WITH RECURSIVE sized AS (
  SELECT source, doc_id, cast({n_tok} as int) AS n_tokens FROM documents
),
ranked AS (
  SELECT source, doc_id, n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS ord
  FROM sized
),
counts AS (SELECT source, max(ord) AS n FROM ranked GROUP BY source),
st AS (
  SELECT source, CAST(0 AS BIGINT) AS i, 0 AS bin, 0 AS fill,
         CAST([] AS STRUCT(d BIGINT, t INT, b INT, o INT)[]) AS acc
  FROM counts
  UNION ALL
  SELECT st.source, st.i + 1,
         CASE WHEN st.fill > 0 AND st.fill + r.n_tokens > {cap}
              THEN st.bin + 1 ELSE st.bin END,
         CASE WHEN st.fill > 0 AND st.fill + r.n_tokens > {cap}
              THEN r.n_tokens ELSE st.fill + r.n_tokens END,
         list_append(st.acc, {{'d': r.doc_id, 't': r.n_tokens,
           'b': CASE WHEN st.fill > 0 AND st.fill + r.n_tokens > {cap}
                     THEN st.bin + 1 ELSE st.bin END,
           'o': CASE WHEN st.fill > 0 AND st.fill + r.n_tokens > {cap}
                     THEN 0 ELSE st.fill END}})
  FROM st JOIN ranked r ON r.source = st.source AND r.ord = st.i + 1
),
final AS (
  SELECT st.source, st.acc FROM st JOIN counts c ON c.source = st.source AND st.i = c.n
)
SELECT source,
       CAST(u.x.d AS BIGINT) AS doc_id,
       CAST(u.x.t AS INT) AS n_tokens,
       CAST(u.x.b AS INT) AS bin_idx,
       CAST(u.x.o AS INT) AS offset_tokens
FROM final, (SELECT unnest(acc) AS x) u"""


def q_events_zorder_key(d: D, bits: int = 12) -> str:
    """Z-order (Morton) clustering key over (user_id, day) — the multi-dim
    data-layout op behind Delta/Iceberg OPTIMIZE ZORDER: interleaving the bits
    of both dimensions makes a lexicographic sort group rows that are close in
    EITHER dimension, so parquet file/row-group min-max envelopes stay tight on
    both columns at once and a box predicate (user range × date range) prunes
    files that any single-column sort must read (measured: tests/test_zorder.py
    counts intersecting file envelopes under all three layouts).

    The interleave is an unrolled literal OR-of-shifts — branch-free int
    arithmetic inside whole-stage codegen, no UDF. `bits`=12 covers 4096
    distinct values per dimension; production uses each dimension's rank
    (range-bucketed percentile) rather than the raw value, which is a
    repartitionByRange + the same interleave."""
    day = "cast(cast(ts as date) - date'2024-01-01' as int)"  # same in both dialects
    a, b = "cast(user_id as int)", "day_no"
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    z = " | ".join(terms)
    return f"""
WITH based AS (
  SELECT event_id, user_id, {day} AS day_no FROM events
)
SELECT {d.big('event_id')} AS event_id,
       {d.big('user_id')} AS user_id,
       cast(day_no as int) AS day_no,
       {d.big(z)} AS zval
FROM based"""


def _cells_sql(d: D, n_cells: int, source: str, cols: str, matrix: str) -> str:
    """``cols`` of ``source`` plus ``darr`` — the n_cells dots of ``embedding``
    against the single-row centroid matrix CTE ``matrix`` — and ``cell_id``,
    the nearest cell: the one assignment of the IVF search, the Lloyd's chain
    and SemDeDup. A pure projection: the matrix enters as an uncorrelated
    scalar subquery, so a literal matrix folds into the expression (no join)
    and a derived one runs once; the dots are an index-based lambda with a
    sequential left fold (identical element order, bit-identical sums in
    both engines), and argmax takes the FIRST position of the max, so ties
    break to the lowest cell in both engines."""
    prod = (
        f"cast({d.elem('embedding', 'j')} as double) * "
        f"{d.elem(d.elem('cm', 'i'), 'j')}"
    )
    darr = d.transform(
        d.seq(0, n_cells - 1),
        "i",
        d.fold_sum(d.transform(d.seq(0, H.EMBED_DIM - 1), "j", prod)),
    )
    pos, mx = ("array_position", "array_max") if d.spark else ("list_position", "list_max")
    return f"""SELECT {cols}, darr, cast({pos}(darr, {mx}(darr)) - 1 as int) AS cell_id
  FROM (SELECT {cols}, {darr} AS darr
        FROM (SELECT {cols}, (SELECT cm FROM {matrix}) AS cm FROM {source}) m) w"""


def q_semantic_dedup(
    d: D,
    threshold: float = 0.40,
    n_cells: int | None = None,
    centroids: list | None = None,
) -> str:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster embeddings to IVF
    cells, then drop near-duplicates WITHIN each cell — a vector is dropped if
    a lower-id vector in the same cell has cosine >= threshold (keep-lowest-id,
    one survivor per ε-similar pair, the paper's per-cluster policy).

    Scale story — this is the production answer to `embed_dup_pairs`'s O(N^2):
    the pairwise cosine runs only INSIDE a cell, so with cells sized ~sqrt(N)
    (n_cells is the knob; ``centroids`` takes k-means-refined ones) the total
    pair work is O(N^1.5), the within-cell join keys the shuffle on cell_id,
    and assignment is a narrow projection. The accepted tradeoff (as in the
    paper): near-dup pairs straddling a cell boundary are missed;
    nprobe-style multi-assignment recovers them at extra cost.

    Plan note: assignment is the Lloyd's chain's argmax (_cells_sql) over
    the literal centroid matrix — a loop, pure projection, zero shuffle, no
    join. explode + row_number(PARTITION BY vec_id) would shuffle every
    vector just to pick its own max."""
    if centroids is None:
        centroids = H.IVF_CENTROID_POOL[: H.IVF_CELLS if n_cells is None else n_cells]
    cells = _cells_sql(d, len(centroids), "nv", "vec_id, embedding, nrm", "c0")
    cos = f"{_dot(d, 'a.embedding', 'b.embedding')} / (a.nrm * b.nrm)"
    return f"""
WITH {cosine_cte(d)},
{_kmeans_chain(d, centroids, 0)[0]},
cellv AS ({cells}),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cellv a JOIN cellv b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE {cos} >= {threshold}
),
sizes AS (
  SELECT cell_id, count(*) AS cell_n FROM cellv GROUP BY cell_id
)
SELECT {d.big('c.vec_id')} AS vec_id,
       cast(c.cell_id as int) AS cell_id,
       cast(s.cell_n as int) AS cell_n,
       (dr.vec_id IS NULL) AS keep
FROM cellv c
JOIN sizes s ON c.cell_id = s.cell_id
LEFT JOIN dropped dr ON c.vec_id = dr.vec_id"""


def q_embed_kmeans_step(d: D, n_cells: int = 8) -> str:
    """One k-means refinement step for the IVF centroids: round 1 of the
    Lloyd's chain (q_embed_kmeans_converged, rounds=1) — assign every vector
    to its nearest seeded centroid, recompute each cell's centroid as the
    per-dimension mean. Emits (cell_id, pos, centroid_val, n_members) per
    dimension of every cell that has members."""
    return f"""
SELECT * FROM ({q_embed_kmeans_converged(d, n_cells, rounds=1)}) s
WHERE n_members > 0"""


def q_embed_kmeans_converged(
    d: D, n_cells: int = 8, rounds: int = 3, source: str = "embeddings"
) -> str:
    """Lloyd's k-means run for a FIXED number of refinement rounds — the
    oracle-paired twin of the open-ended convergence loop in
    operators/kmeans.py (fixed round count because an oracle must be
    deterministic; the DataFrame loop adds the drift-based stop).

    Each round r: (1) assign every vector to its nearest centroid by dot
    product — a zero-shuffle projection: the centroid matrix is a single-row
    CTE cross-joined in (broadcast of one row) and the N x C dots are a
    LOOP-FORM lambda (transform + sequential fold), the 64KB-codegen-safe
    shape for a multi-consumer chain; (2) recompute each cell's centroid as
    the per-dimension mean via unpivot → groupBy(cell, pos) with map-side
    partial aggregation — (cells x dim) rows regardless of N; (3) rebuild the
    matrix, keeping a cell that lost all members at its previous centroid
    (the left-join-grid coalesce), so the chain never misindexes.

    Cross-engine determinism: centroid means are rounded to 6 dp each round
    BEFORE feeding the next assignment (parallel double summation order
    differs between engines; rounding collapses the ~1e-12 noise), dots are
    sequential left folds (bit-identical), and argmax ties break to the
    lowest cell via first-occurrence array_position in both engines.

    Scale: per round one scan of the vectors, one (cells x dim)-row exchange,
    and a tiny single-row matrix rebuild — the classic centroids-on-driver
    Lloyd's shape with the driver replaced by a one-row broadcast."""
    ctes = _kmeans_chain(d, H.IVF_CENTROID_POOL[:n_cells], rounds, source=source)
    ctes.append(
        f"members AS (SELECT cell_id, count(*) AS n_members FROM a{rounds} GROUP BY cell_id)"
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT cast(g.cell_id as int) AS cell_id,
       cast(g.pos as int) AS pos,
       g.val AS centroid_val,
       {d.big('coalesce(m.n_members, 0)')} AS n_members
FROM g{rounds} g LEFT JOIN members m ON g.cell_id = m.cell_id"""


def _kmeans_chain(
    d: D, centroids: list, rounds: int, source: str = "embeddings"
) -> list[str]:
    """The fixed-round Lloyd's CTE chain shared by q_embed_kmeans_converged
    and q_embed_ivf_ann: ``c0`` is the literal ``centroids`` matrix; round r
    assigns ``source``'s vectors in ``a{r}`` and rebuilds the single-row
    matrix ``c{r}`` and its (cell_id, pos, val) long form ``g{r}``.
    ``rounds=0`` is c0 alone, no refinement."""
    dim = H.EMBED_DIM
    n_cells = len(centroids)
    if d.spark:
        ordered_vals = (
            "transform(array_sort(collect_list(struct(cell_id, pos, val))), x -> x.val)"
        )
    else:
        ordered_vals = "array_agg(val ORDER BY cell_id, pos)"
    matrix = d.transform(
        d.seq(0, n_cells - 1),
        "i",
        d.transform(d.seq(0, dim - 1), "j", d.elem("vals", f"i * {dim} + j")),
    )
    ctes = [f"c0 AS (SELECT {d.arr([d.arr(row) for row in centroids])} AS cm)"]
    prev = "c0"
    for r in range(1, rounds + 1):
        if d.spark:
            unpivot = (
                f"SELECT cell_id, pos, cast(v as double) AS v FROM a{r} "
                "LATERAL VIEW posexplode(embedding) t AS pos, v"
            )
            grid = (
                f"SELECT cell_id, pos, prev FROM {prev} "
                "LATERAL VIEW posexplode(cm) t0 AS cell_id, crow "
                "LATERAL VIEW posexplode(crow) t1 AS pos, prev"
            )
        else:
            unpivot = (
                "SELECT cell_id, cast(p.pos as int) AS pos, "
                f"cast(embedding[p.pos + 1] as double) AS v "
                f"FROM a{r}, (SELECT unnest(range(0, {dim})) AS pos) p"
            )
            grid = (
                "SELECT cast(i.i as int) AS cell_id, cast(j.j as int) AS pos, "
                f"cm[i.i + 1][j.j + 1] AS prev "
                f"FROM {prev}, (SELECT unnest(range(0, {n_cells})) AS i) i, "
                f"(SELECT unnest(range(0, {dim})) AS j) j"
            )
        ctes.append(f"a{r} AS ({_cells_sql(d, n_cells, source, 'vec_id, embedding', prev)})")
        ctes.append(f"u{r} AS ({unpivot})")
        ctes.append(
            f"m{r} AS (SELECT cell_id, pos, round(avg(v), 6) AS val "
            f"FROM u{r} GROUP BY cell_id, pos)"
        )
        ctes.append(
            f"""g{r} AS (
  SELECT grid.cell_id AS cell_id, grid.pos AS pos, coalesce(m.val, grid.prev) AS val
  FROM ({grid}) grid LEFT JOIN m{r} m ON grid.cell_id = m.cell_id AND grid.pos = m.pos
)"""
        )
        ctes.append(
            f"c{r} AS (SELECT {matrix} AS cm FROM (SELECT {ordered_vals} AS vals FROM g{r}) s{r})"
        )
        prev = f"c{r}"
    return ctes


def clustered_embeddings_cte(
    d: D, n_clusters: int = 16, blend: float = 0.85
) -> str:
    """CTE ``cemb``: the clustered-geometry recall fixture, derived
    DETERMINISTICALLY from the existing embeddings table (no new data).

    Random 64-dim vectors are the adversarial regime for any cell/bucket ANN
    (no neighborhood structure, so every boundary cuts true neighbors —
    q_embed_ann_recall measures 0.30-0.53 there). Real embedding spaces are
    clustered. This fixture represents them: vector i becomes
    ``blend * anchor(i % n_clusters) + (1-blend) * e_i`` where the anchors
    are the first n_clusters raw vectors — near-orthogonal in 64-dim, so
    same-cluster cosine lands near blend^2 / (blend^2 + (1-blend)^2) ~ 0.97
    and cross-cluster near 0. Every vector's exact top-k therefore lives in
    its own cluster, which is precisely the structure IVF cells must recover
    for recall to be reachable at small nprobe. Components are rounded to
    6 dp so both engines blend bit-identically."""
    mix = (
        f"round({blend} * cast({d.elem('a.embedding', 'i')} as double)"
        f" + {round(1.0 - blend, 6)} * cast({d.elem('v.embedding', 'i')} as double), 6)"
    )
    emb = d.transform(d.seq(0, H.EMBED_DIM - 1), "i", mix)
    return f"""cemb AS (
  SELECT v.vec_id, v.label, {emb} AS embedding
  FROM embeddings v JOIN embeddings a ON a.vec_id = v.vec_id % {n_clusters}
)"""


def recall_with_cost_sql(d: D, ann_sql: str, bf_sql: str, lead_ctes: str = "") -> str:
    """The one recall@k + probe-cost tail: join an ANN top-k result
    (columns query_id, neighbor_id, n_cand_q) against the exact top-k and
    emit ONE row — recall, per-query worst case, and the total candidate
    volume the ANN actually scored. The Spark runner of the refined-IVF
    family feeds it collected-centroid sub-queries over a materialized
    fixture view; q_embed_ann_recall feeds it the full in-SQL derivation
    (lead_ctes = the fixture CTE). The two sub-queries are each referenced
    once, so Spark's CTE inlining costs nothing extra; DuckDB pins them
    MATERIALIZED only to spare its binder the doubled tree."""
    m = d.materialized()
    return f"""
WITH {lead_ctes}ann AS {m}({ann_sql}),
bf AS {m}({bf_sql}),
cand AS (
  SELECT query_id, max(n_cand_q) AS n_cand FROM ann GROUP BY query_id
),
hits AS (
  SELECT bf.query_id, count(ann.neighbor_id) AS n_hit, count(*) AS n_true
  FROM bf LEFT JOIN ann
    ON ann.query_id = bf.query_id AND ann.neighbor_id = bf.neighbor_id
  GROUP BY bf.query_id
)
SELECT round(cast(sum(n_hit) as double) / sum(n_true), 6) AS recall_at_k,
       {d.big('sum(n_hit)')} AS n_hit,
       {d.big('sum(n_true)')} AS n_true,
       round(min(cast(n_hit as double) / n_true), 6) AS worst_query_recall,
       c.n_candidates
FROM hits CROSS JOIN (
  SELECT {d.big('sum(n_cand)')} AS n_candidates FROM cand
) c
GROUP BY c.n_candidates"""


def q_tokenize_bpe(d: D) -> str:
    """Per-document subword token accounting with the deterministic mini-BPE
    (functions/bpe.py — the real-tokenizer upgrade of the whitespace/regex P7
    counts; reference meters tiktoken BPE, /root/reference/factcheck/__init__.py:38).

    Plan (the shape that survives 10^12 docs): BPE output is a function of the
    word TYPE, not the occurrence — so the merge fold runs over the DISTINCT
    vocabulary only (bounded by vocabulary size, not corpus size) and the
    corpus-sized stream just does a per-(doc, word) count and a broadcast join
    against that tiny tokenized dictionary. The fold itself is a loop-form
    aggregate over the literal merges array (SQL replace() has exactly the
    encoder's non-overlapping left-to-right semantics), JVM-side inside
    whole-stage codegen — no UDF anywhere. DuckDB expresses the same rank-
    ordered fold as a recursive CTE joining step i to merge rank i.

    Output: doc_id, n_words, n_chars, n_bpe_tokens, chars_per_token."""
    from ..functions import bpe as B

    merges = [(f"{a}|{b}", a + b) for a, b in B.MERGES]
    nm = len(merges)
    if d.spark:
        marr = d.arr([d.arr([f"'{p}'", f"'{r}'"]) for p, r in merges])
        words_from = (
            "SELECT doc_id, explode(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS word "
            "FROM documents"
        )
        raw = "regexp_replace(word, '(.)', '$1|')"
        fold = (
            f"aggregate({marr}, left(raw, length(raw) - 1), "
            "(acc, m) -> replace(acc, element_at(m, 1), element_at(m, 2)))"
        )
        vt_cte = f"""vt AS (
  SELECT word, length(word) AS n_chars,
         length(tokstr) - length(replace(tokstr, '|', '')) + 1 AS n_tok
  FROM (SELECT word, {fold} AS tokstr
        FROM (SELECT word, {raw} AS raw FROM vocab) r) t
)"""
        prefix = "WITH "
    else:
        mvals = ", ".join(f"({i}, '{p}', '{r}')" for i, (p, r) in enumerate(merges))
        words_from = (
            "SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word "
            "FROM documents"
        )
        raw = r"regexp_replace(word, '(.)', '\1|', 'g')"
        vt_cte = f"""merges(rank, pat, repl) AS (VALUES {mvals}),
steps AS (
  SELECT word, left(raw, length(raw) - 1) AS tokstr, 0 AS i
  FROM (SELECT word, {raw} AS raw FROM vocab) r
  UNION ALL
  SELECT s.word, replace(s.tokstr, m.pat, m.repl), s.i + 1
  FROM steps s JOIN merges m ON m.rank = s.i
),
vt AS (
  SELECT word, length(word) AS n_chars,
         length(tokstr) - length(replace(tokstr, '|', '')) + 1 AS n_tok
  FROM steps WHERE i = {nm}
)"""
        prefix = "WITH RECURSIVE "
    return f"""
{prefix}words AS ({words_from}),
wc AS (
  SELECT doc_id, word, count(*) AS cnt FROM words GROUP BY doc_id, word
),
vocab AS (
  SELECT DISTINCT word FROM words
),
{vt_cte}
SELECT {d.broadcast('vt')}{d.big('wc.doc_id')} AS doc_id,
       cast(sum(wc.cnt) as int) AS n_words,
       cast(sum(wc.cnt * vt.n_chars) as int) AS n_chars,
       cast(sum(wc.cnt * vt.n_tok) as int) AS n_bpe_tokens,
       round(cast(sum(wc.cnt * vt.n_chars) as double)
             / sum(wc.cnt * vt.n_tok), 6) AS chars_per_token
FROM wc JOIN vt ON wc.word = vt.word
GROUP BY wc.doc_id"""


def q_corpus_top_terms(d: D, k: int = 25) -> str:
    """Corpus-wide exact top-k terms (the vocabulary/stopword audit every text
    pipeline starts with): explode → count → TakeOrderedAndProject. Exact
    global heavy-hitters need the full term aggregate; the bounded-memory
    sketch swap at 10^12 tokens is count-min / space-saving over the same
    exploded stream (Spark ships count_min_sketch as an aggregate), with this
    exact form as the anchor."""
    return f"""
WITH terms AS (SELECT {d.explode(d.split_ws('text'))} AS term FROM documents)
SELECT term, {d.big('count(*)')} AS n
FROM terms GROUP BY term
ORDER BY n DESC, term LIMIT {k}"""


def q_events_histogram(d: D, n_buckets: int = 10) -> str:
    """Equi-width value histogram per event type over the global [min, max]
    envelope — the profiling primitive behind every distribution dashboard.
    Two aggregates only: one tiny global-envelope scan (scalar broadcast),
    one groupBy((type, bucket)) with map-side combine, so the exchange carries
    at most types × buckets rows regardless of N. Bucket arithmetic is plain
    floor() math (DuckDB has no width_bucket; the explicit form is
    engine-identical), top edge clamped into the last bucket."""
    bucket = (
        f"cast(least({n_buckets - 1}, greatest(0, "
        f"floor((value - (SELECT lo FROM env)) / (SELECT w FROM env)))) as int)"
    )
    return f"""
WITH env AS (
  SELECT min(value) AS lo,
         (max(value) - min(value)) / {n_buckets} AS w
  FROM events
)
SELECT event_type,
       {bucket} AS bucket,
       round((SELECT lo FROM env) + {bucket} * (SELECT w FROM env), 6) AS bucket_lo,
       {d.big('count(*)')} AS n,
       round(avg(value), 6) AS avg_value
FROM events
GROUP BY event_type, {bucket}"""


def q_events_winsorize(d: D, p_lo: float = 0.05, p_hi: float = 0.95) -> str:
    """Winsorization (robust feature clipping): per event type, clip values to
    the exact [p05, p95] band — the standard tail-taming transform before any
    scale-sensitive model feature. Two passes: a tiny per-type percentile
    aggregate (exact `percentile` ≡ `quantile_cont`, bitwise-equal doubles —
    the q_events_value_percentiles anchor), broadcast-joined back onto the
    stream for the clip; output audits how much mass each tail lost."""
    clip = "least(b.hi, greatest(b.lo, e.value))"
    return f"""
WITH bounds AS (
  SELECT event_type,
         {d.percentile('value', p_lo)} AS lo,
         {d.percentile('value', p_hi)} AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       {d.big('count(*)')} AS n,
       {d.big(f'sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END)')} AS n_clipped_lo,
       {d.big(f'sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END)')} AS n_clipped_hi,
       round(avg(e.value), 6) AS avg_raw,
       round(avg({clip}), 6) AS avg_winsorized,
       round(any_value(b.lo), 6) AS p_lo,
       round(any_value(b.hi), 6) AS p_hi
FROM events e JOIN bounds b ON e.event_type = b.event_type
GROUP BY e.event_type"""


def q_text_token_entropy(d: D, min_bits: float = 3.0) -> str:
    """Token-distribution Shannon entropy per document — the
    information-density quality signal (low entropy = repetitive/boilerplate;
    complements the Gopher top-gram fractions of q_quality_repetition).
    H = log2(n) - sum(c*log2(c))/n via one explode → groupBy(doc, token) →
    per-doc aggregate; token term counts are computed on the hashed token
    (h7) so the shuffle carries fixed-width ints, exactly as in
    q_quality_repetition. Also emits the normalized ratio H/log2(distinct)
    (1.0 = perfectly even) and the keep gate at `min_bits`."""
    return f"""
WITH toks AS (SELECT doc_id, {d.explode(d.split_ws('text'))} AS tok FROM documents),
tf AS (
  SELECT doc_id, {d.h7('tok')} AS th, cast(count(*) as double) AS c
  FROM toks GROUP BY doc_id, {d.h7('tok')}
),
perdoc AS (
  SELECT doc_id, sum(c) AS n, count(*) AS n_distinct,
         sum(c * ln(c)) AS clnc
  FROM tf GROUP BY doc_id
)
SELECT {d.big('doc_id')} AS doc_id,
       cast(n as int) AS n_tokens,
       cast(n_distinct as int) AS n_distinct,
       round((ln(n) - clnc / n) / ln(2), 6) AS entropy_bits,
       round(CASE WHEN n_distinct > 1
                  THEN (ln(n) - clnc / n) / ln(cast(n_distinct as double)) END, 6)
         AS evenness,
       ((ln(n) - clnc / n) / ln(2) >= {min_bits}) AS keep
FROM perdoc"""


def q_events_asof_value(d: D) -> str:
    """Two-table as-of join (backward, inclusive): each error event carries the
    VALUE of the same user's most recent view event at-or-before it — the
    general temporal-lookup operator (operators/asof.py is the DataFrame
    form + a cogroup/merge_asof twin; events_error_gap is the same-table
    gap-seconds special case).

    Scale shape: union-tag + ONE window — one exchange on user_id, one sort by
    (ts, side, id), constant frame state (the single carried payload). Right
    rows order before left rows at equal ts (is_left 0 < 1) ⇒ inclusive match.
    Never a range join, never per-key buffering of whole groups — the shape
    that survives mega-user skew via the standard salted-window machinery."""
    w = (
        "OVER (PARTITION BY user_id ORDER BY ts, is_left, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return f"""
WITH tagged AS (
  SELECT user_id, ts, event_id, 1 AS is_left, cast(NULL as double) AS payload
  FROM events WHERE event_type = 'error'
  UNION ALL
  SELECT user_id, ts, event_id, 0 AS is_left, value AS payload
  FROM events WHERE event_type = 'view'
),
j AS (
  SELECT user_id, ts, event_id, is_left,
         {d.last_ignore_nulls('payload')} {w} AS asof_value
  FROM tagged
)
SELECT {d.big('event_id')} AS event_id, {d.big('user_id')} AS user_id,
       round(asof_value, 2) AS asof_value
FROM j WHERE is_left = 1"""


def q_events_cdc_merge(d: D) -> str:
    """CDC upsert — the Iceberg `MERGE INTO` shape every log pipeline needs for
    late corrections (matched+D → delete, matched+U → update, unmatched+I →
    insert; unmatched U/D are no-ops), applied with last-write-wins on the
    change sequence when one key carries several ops (the %21 keys get U at
    seq 1 then D at seq 2 — the delete must win). The changelog is derived
    deterministically from the events table itself (inserts use negative keys
    so they can never collide with base rows).

    Scale shape: squash-to-latest is one row_number window keyed on event_id;
    the apply is a single FULL OUTER join on the same key — one partitioning
    serves both. A real changelog is ≪ base, so production broadcasts the
    squashed changelog (or uses Iceberg merge-on-read deletes and lets
    compaction fold them); the full-outer form here is the engine-agnostic
    spec both engines can check."""
    return f"""
WITH changes AS (
  SELECT event_id, 1 AS seq, 'U' AS op, value + 100 AS new_value, event_type AS new_type
  FROM events WHERE event_id % 7 = 0
  UNION ALL
  SELECT event_id, 2 AS seq, 'D' AS op, cast(NULL as double) AS new_value,
         {d.to_str('NULL')} AS new_type
  FROM events WHERE event_id % 21 = 0
  UNION ALL
  SELECT -event_id - 1 AS event_id, 1 AS seq, 'I' AS op, value AS new_value,
         event_type AS new_type
  FROM events WHERE event_id % 11 = 0
),
latest AS (
  SELECT event_id, op, new_value, new_type FROM (
    SELECT c.*, row_number() OVER (PARTITION BY event_id ORDER BY seq DESC) AS rn
    FROM changes c
  ) t WHERE rn = 1
),
merged AS (
  SELECT coalesce(l.event_id, b.event_id) AS event_id,
         CASE WHEN l.op IN ('U', 'I') THEN l.new_value ELSE b.value END AS value,
         CASE WHEN l.op IN ('U', 'I') THEN l.new_type ELSE b.event_type END AS event_type,
         CASE WHEN l.op IS NULL THEN 'unchanged'
              WHEN l.op = 'U' THEN 'updated'
              ELSE 'inserted' END AS merge_action
  FROM events b FULL OUTER JOIN latest l ON b.event_id = l.event_id
  WHERE NOT coalesce(l.op = 'D', false)
    AND NOT (b.event_id IS NULL AND l.op <> 'I')
)
SELECT {d.big('event_id')} AS event_id, round(value, 2) AS value,
       event_type, merge_action
FROM merged"""


def q_pagerank_trade(d: D, iters: int = 5, damping: float = 0.85) -> str:
    """PageRank over the nation→nation trade graph (customer nation → supplier
    nation, edge weight = lineitem count) — the iterative-algorithm family
    (connected components being the other member, operators/components.py):
    `iters` power-iteration steps unrolled as a CTE chain, exact standard
    PageRank with dangling-mass redistribution expressed as explicit
    uniform edges so each iteration references the previous rank relation
    exactly ONCE (a second reference — e.g. a dangling-sum scalar subquery —
    would double the inlined plan per level in Spark: 2^iters blowup).

    Scale shape: one iteration = join(pr, edges on src) → groupBy(dst) — both
    keyed on the node id, so a production run partitions edges once, persists
    each iteration (checkpointing the lineage every few steps), and reuses the
    partitioning across all iterations; the rank relation is O(nodes), the join
    is co-partitioned. The dangling fan-out (u → all nodes) is materialized
    only because this graph is 25 nodes — at web scale dangling mass is the
    standard scalar aggregate folded into the teleport term (two passes per
    iteration, no fan-out). Ranks are compared ROUNDED (6 dp) so cross-engine
    float summation order can't flip the output."""
    n = 25  # nation count (TPC-H fixed dimension)
    edges = f"""edges0 AS (
  SELECT cn.n_name AS src, sn.n_name AS dst, cast(count(*) as double) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  GROUP BY cn.n_name, sn.n_name
),
outw AS (SELECT src, sum(w) AS ow FROM edges0 GROUP BY src),
nodes AS (SELECT n_name AS node FROM nation),
edges AS (
  SELECT e.src, e.dst, e.w / o.ow AS p
  FROM edges0 e JOIN outw o ON e.src = o.src
  UNION ALL
  SELECT dn.node AS src, nd.node AS dst, 1.0 / {n} AS p
  FROM nodes dn CROSS JOIN nodes nd
  WHERE dn.node NOT IN (SELECT src FROM outw)
),
pr0 AS (SELECT node, 1.0 / {n} AS pr FROM nodes)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""pr{k} AS (
  SELECT nd.node,
         {(1 - damping) / n} + {damping} * coalesce(sum(p.pr * e.p), 0) AS pr
  FROM nodes nd
  LEFT JOIN edges e ON e.dst = nd.node
  LEFT JOIN pr{k - 1} p ON p.node = e.src
  GROUP BY nd.node
)""")
    chain = ",\n".join([edges] + steps)
    return f"""
WITH {chain}
SELECT node, round(pr, 6) AS pagerank,
       cast(row_number() OVER (ORDER BY round(pr, 6) DESC, node) as int) AS rnk
FROM pr{iters}"""


def q_corpus_top_terms_cms(
    d: D,
    depth: int = 4,
    width: int = 1024,
    probes: tuple = (
        "join", "hash", "scan", "customer", "vector", "merge", "window",
        "zzz_absent_term",
    ),
) -> str:
    """Count-min sketch term frequencies (Cormode & Muthukrishnan 2005) — the
    bounded-memory heavy-hitter path `corpus_top_terms` names as the 10^12-token
    swap, implemented for real: a depth x width counter matrix built from the
    exploded token stream, probed for a fixed term set, with the exact counts
    (computed only for the tiny probe list) alongside so the one-sided
    overestimate guarantee (est >= exact, est <= exact + eN/width w.h.p.) is
    visible in the output.

    Scale story — this is why CMS beats groupBy(term) at 10^12 tokens: the
    sketch groupBy keys on (row, bucket) with at most depth*width = {4*1024}
    distinct keys, so map-side partial aggregation collapses every partition to
    <= depth*width rows REGARDLESS of corpus size — the exchange is O(depth *
    width * n_partitions), not O(distinct terms). The affine row hashes reuse
    the MinHash coefficient family (functions/hashing.py), so both engines
    build the bit-identical sketch — the oracle checks the sketch itself, not
    just the estimates."""
    from ..functions.hashing import MERSENNE_P, MINHASH_A, MINHASH_B

    a = d.arr(MINHASH_A[:depth])
    b = d.arr(MINHASH_B[:depth])
    terms_from = f"SELECT {d.explode(d.split_ws('text'))} AS term FROM documents"
    rows_from = d.explode_join(d.seq(0, depth - 1), "j", "r")
    probe_rows = " UNION ALL ".join(f"SELECT '{p}' AS term" for p in probes)
    bucket = (
        f"cast((({d.elem(a, 'j')} * h + {d.elem(b, 'j')}) % {MERSENNE_P}) % {width} as int)"
    )
    return f"""
WITH toks AS (SELECT {d.h7('term')} AS h, term FROM ({terms_from}) t0),
sketch AS (
  SELECT cast(j as int) AS j, {bucket} AS bucket, {d.big('count(*)')} AS c
  FROM toks {rows_from}
  GROUP BY 1, 2
),
probes AS (SELECT term, {d.h7('term')} AS h FROM ({probe_rows}) p),
probe_cells AS (
  SELECT p.term, cast(j as int) AS j, {bucket} AS bucket
  FROM probes p {rows_from}
),
est AS (
  SELECT pc.term, min(coalesce(s.c, 0)) AS est
  FROM probe_cells pc LEFT JOIN sketch s ON pc.j = s.j AND pc.bucket = s.bucket
  GROUP BY pc.term
),
exact AS (
  SELECT term, {d.big('count(*)')} AS exact
  FROM ({terms_from}) t1 WHERE term IN ({", ".join(f"'{p}'" for p in probes)})
  GROUP BY term
)
SELECT e.term, {d.big('e.est')} AS est, coalesce(x.exact, 0) AS exact,
       (e.est >= coalesce(x.exact, 0)) AS overestimate_ok
FROM est e LEFT JOIN exact x ON e.term = x.term"""


# ======================================================================================
# Telemetry analytics: funnel, cohort retention, anomaly flags, sliding rate
# ======================================================================================

DAY_NO = "cast(cast(ts as date) - date'2024-01-01' as int)"  # same in both dialects


def q_events_funnel(d: D) -> str:
    """Ordered conversion funnel per day: first view → first click after it →
    first purchase after that (strict event-time ordering, not mere presence).

    Scale shape: every stage aggregates and joins on the SAME (user_id, day_no)
    key — each stage keeps ONE timestamp per (user, day), so the stage tables
    shrink monotonically down the funnel: at test scale Catalyst broadcasts
    them (executed plan: 5 BHJ, 0 SMJ), at 10^12 events the joins fall back to
    SMJs that are all co-partitioned on the one key. The window-per-user
    alternative buffers each user's full event list — unbounded per-key state
    this form never holds."""
    return f"""
WITH base AS (
  SELECT user_id, {DAY_NO} AS day_no, event_type, ts FROM events
),
v AS (SELECT user_id, day_no, min(ts) AS t FROM base WHERE event_type = 'view' GROUP BY user_id, day_no),
c AS (
  SELECT b.user_id, b.day_no, min(b.ts) AS t
  FROM base b JOIN v ON v.user_id = b.user_id AND v.day_no = b.day_no
  WHERE b.event_type = 'click' AND b.ts > v.t GROUP BY b.user_id, b.day_no
),
p AS (
  SELECT b.user_id, b.day_no, min(b.ts) AS t
  FROM base b JOIN c ON c.user_id = b.user_id AND c.day_no = b.day_no
  WHERE b.event_type = 'purchase' AND b.ts > c.t GROUP BY b.user_id, b.day_no
)
SELECT v.day_no,
       {d.big('count(*)')} AS n_view,
       {d.big('count(c.user_id)')} AS n_view_click,
       {d.big('count(p.user_id)')} AS n_full_funnel
FROM v LEFT JOIN c ON c.user_id = v.user_id AND c.day_no = v.day_no
       LEFT JOIN p ON p.user_id = v.user_id AND p.day_no = v.day_no
GROUP BY v.day_no"""


def q_events_retention(d: D, horizon: int = 7) -> str:
    """Cohort retention: users cohorted by first signup day, counted active on
    each of the following `horizon` days. The cohort table is one row per user
    (broadcastable at any realistic user cardinality); activity is the distinct
    (user, day) projection — both shuffles key on user_id and reuse one
    partitioning."""
    return f"""
WITH base AS (
  SELECT user_id, {DAY_NO} AS day_no, event_type FROM events
),
cohort AS (
  SELECT user_id, min(day_no) AS cohort_day FROM base
  WHERE event_type = 'signup' GROUP BY user_id
),
activity AS (SELECT DISTINCT user_id, day_no FROM base)
SELECT cohort_day,
       (a.day_no - c.cohort_day) AS day_n,
       {d.big('count(DISTINCT a.user_id)')} AS n_active
FROM cohort c JOIN activity a ON a.user_id = c.user_id
WHERE a.day_no - c.cohort_day BETWEEN 0 AND {horizon}
GROUP BY cohort_day, a.day_no - c.cohort_day"""


def q_events_anomaly_mad(d: D, k: float = 3.5) -> str:
    """Robust anomaly counts per event type: |value - median| > k·1.4826·MAD
    (the modified z-score rule — median/MAD instead of mean/stddev so the
    outliers being hunted can't poison the threshold). Exact medians match
    bitwise across engines (percentile ≡ quantile_cont); the 10^12-row swap is
    approx_percentile for both quantile passes, bounded in
    tests/test_dedup_similarity.py's t-digest harness."""
    return f"""
WITH med AS (
  SELECT event_type, {d.percentile('value', 0.5)} AS med FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON m.event_type = e.event_type
),
madt AS (
  SELECT event_type, {d.percentile('adev', 0.5)} AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
       {d.big('count(*)')} AS n,
       {d.big(f'sum(CASE WHEN d.adev > {k} * 1.4826 * m.mad THEN 1 ELSE 0 END)')} AS n_outliers,
       round(max(m.mad), 6) AS mad
FROM dev d JOIN madt m ON m.event_type = d.event_type
GROUP BY d.event_type"""


def q_events_sliding_rate(d: D, window_sec: int = 3600) -> str:
    """Per-event trailing-window rate: how many events this user emitted in the
    last hour, including this one — the batch twin of the reference's request
    rate limiter (SURVEY §2 A6; the streaming form is
    streaming/windowed_summary). RANGE frame over epoch seconds: state per
    user is the window buffer, bounded by rate x horizon, and the only
    exchange keys on user_id (mega-user skew → operators/skew.py salting)."""
    return f"""
WITH base AS (
  SELECT event_id, user_id, {d.epoch_sec('ts')} AS sec FROM events
)
SELECT {d.big('event_id')} AS event_id, {d.big('user_id')} AS user_id,
       {d.big(f'''count(*) OVER (PARTITION BY user_id ORDER BY sec
            RANGE BETWEEN {window_sec} PRECEDING AND CURRENT ROW)''')} AS n_in_window
FROM base"""


def q_events_grok_parse(d: D) -> str:
    """Grok log-line parsing + dead-letter split (functions/grok.py): the
    events table is rendered into syslog-ish lines (deterministically, same
    formula both engines; every 13th line is corrupted by dropping the ip
    field), then parsed back with a grok expression compiled to one shared
    Java/RE2 regex. Non-matching lines surface as grok_matched=false with
    empty fields — the quarantine-route predicate a real ingest pipeline
    ships to its dead-letter sink.

    Scale shape: render + N anchored regexp_extracts + match flag, all in one
    codegen'd projection over one scan — grok parsing at 10^12 lines is pure
    scan throughput, exactly like pii_redact."""
    from ..functions.grok import grok_select_sql

    iso = (
        "date_format(ts, 'yyyy-MM-dd') || 'T' || date_format(ts, 'HH:mm:ss')"
        if d.spark
        else "strftime(ts, '%Y-%m-%dT%H:%M:%S')"
    )
    level = "CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'INFO' END"
    ip = f"'10.' || {d.to_str('user_id % 256')} || '.0.' || {d.to_str('event_id % 200')}"
    lat = "round(value, 2)"
    line = (
        f"{iso} || ' ' || {level} || ' ' || event_type || ' user=' || "
        f"{d.to_str('user_id')} || CASE WHEN event_id % 13 = 0 THEN '' "
        f"ELSE ' ip=' || {ip} END || ' latency=' || {d.to_str(lat)} || 'ms'"
    )
    expr = ("%{TIMESTAMP_ISO8601:ts_str} %{LOGLEVEL:level} %{WORD:etype} "
            "user=%{INT:user} ip=%{IP:client} latency=%{NUMBER:latency}ms")
    cols = ",\n       ".join(grok_select_sql("line", expr, d.name))
    return f"""
WITH lines AS (
  SELECT event_id, {line} AS line FROM events
)
SELECT {d.big('event_id')} AS event_id,
       {cols}
FROM lines"""
