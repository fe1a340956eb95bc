"""DuckDB oracle SQL builders mirroring each Spark operator bit-for-bit.

Shared by ``__spark_entry__.py`` (the driver's correctness gate) and the test
suite.  Every builder returns a single ANSI-ish SQL string runnable by DuckDB
against the pre-registered parquet views (documents, events, embeddings, ...),
parameterized by the SAME Python constants the Spark operators use — so the
two sides cannot drift independently.
"""

from __future__ import annotations

from . import dedup
from .textstats import LANG_STOPWORDS, QUALITY_STOPWORDS

# --- tokenizer (functions/tokenizer.py spec) --------------------------------

TOKENS_SQL = "list_filter(string_split_regex(lower({text}), '[^a-z0-9_]+'), t -> t <> '')"


def tokens_sql(text: str = "text") -> str:
    return TOKENS_SQL.format(text=text)


# --- geohash long_encode (geo/geohash.py, validated vs numpy impl) ----------

_SPREAD_STEPS = [
    (16, 281470681808895),       # 0x0000FFFF0000FFFF
    (8, 71777214294589695),      # 0x00FF00FF00FF00FF
    (4, 1085102592571150095),    # 0x0F0F0F0F0F0F0F0F
    (2, 3689348814741910323),    # 0x3333333333333333
    (1, 6148914691236517205),    # 0x5555555555555555
]


def _spread_bits_sql(col: str) -> str:
    """The 5-step magic-mask bit spread; << via *2^n (DuckDB's << overflow-
    checks UBIGINT shifts, multiplication does not lose bits here because
    every step is pre-masked)."""
    s = f"({col})::UBIGINT"
    for sh, mask in _SPREAD_STEPS:
        s = f"(({s} | ({s} * {1 << sh}::UBIGINT)) & {mask}::UBIGINT)"
    return s


def geohash_cell_sql(precision: int, lon_expr: str = "lon", lat_expr: str = "lat") -> str:
    """ES Geohash.longEncode(lon, lat, precision) as a DuckDB expression.

    Valid for precision ≤ 11 (precision 12 sets bit 63; not needed here).
    Mirrors geo/geohash.py exactly: Lucene axis quantization (with the +edge
    stepped down one ulp), sign-flip to unsigned order, morton interleave
    (lon on odd bits), keep top 5*precision bits, pack precision low.
    """
    if not 1 <= precision <= 11:
        raise ValueError("oracle SQL supports precision 1..11")
    lon_e = (
        f"((xor(floor(least({lon_expr}, 179.99999999999997) / (360.0/4294967296.0))::BIGINT,"
        f" 2147483648)) & 4294967295)::UBIGINT"
    )
    lat_e = (
        f"((xor(floor(least({lat_expr}, 89.99999999999999) / (180.0/4294967296.0))::BIGINT,"
        f" 2147483648)) & 4294967295)::UBIGINT"
    )
    morton = f"({_spread_bits_sql(lat_e)} | ({_spread_bits_sql(lon_e)} * 2::UBIGINT))"
    shift = 4 + 5 * (12 - precision)
    return f"((({morton} >> {shift}::UBIGINT) * 16::UBIGINT) | {precision}::UBIGINT)::BIGINT"


# --- deterministic synthetic geo assignment over the events table -----------

EVENT_LON_SQL = "((event_id * 7919) % 36000) / 100.0 - 180.0"
EVENT_LAT_SQL = "((event_id * 104729) % 17000) / 100.0 - 85.0"


def enc12_order_key_sql(lon_expr: str = "lon", lat_expr: str = "lat") -> str:
    """Lucene doc_values sort key: the level-12 geohash long in SIGNED-long
    order, as a DuckDB UBIGINT (bit 63 xor-flipped so unsigned comparison
    reproduces Java's signed comparison).  Mirrors cell_column(precision=12)
    as used for the multi-value first-point selection (P6)."""
    lon_e = (
        f"((xor(floor(least({lon_expr}, 179.99999999999997) / (360.0/4294967296.0))::BIGINT,"
        f" 2147483648)) & 4294967295)::UBIGINT"
    )
    lat_e = (
        f"((xor(floor(least({lat_expr}, 89.99999999999999) / (180.0/4294967296.0))::BIGINT,"
        f" 2147483648)) & 4294967295)::UBIGINT"
    )
    morton = f"({_spread_bits_sql(lat_e)} | ({_spread_bits_sql(lon_e)} * 2::UBIGINT))"
    packed = f"((({morton} >> 4::UBIGINT) * 16::UBIGINT) | 12::UBIGINT)"
    return f"xor({packed}, 9223372036854775808::UBIGINT)"


# --- md5-derived 60-bit hash (the Arrow fingerprints in extras/dedup.py) ---


def md5_long_sql(expr: str) -> str:
    return f"('0x' || substr(md5(({expr})::VARCHAR), 1, 15))::BIGINT"


def shingles_sql(toks: str, k: int) -> str:
    """Distinct k-word shingles of a token list (dedup.word_shingles)."""
    if k == 1:
        return f"list_distinct({toks})"
    parts = ", ".join([f"({toks})[i + {j}]" for j in range(k)])
    return (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - {k - 2}, 1)),"
        f" i -> concat_ws(' ', {parts})))"
    )


def minhash_signature_sql(
    text: str = "text",
    *,
    num_hashes: int = dedup.DEFAULT_NUM_HASHES,
    shingle_k: int = dedup.DEFAULT_SHINGLE_K,
    seed: int = 42,
) -> str:
    """SELECT-list fragment: the signature as a LIST(BIGINT) named sig,
    assuming a column ``hashes`` (list of md5_long shingle hashes) exists."""
    coeffs = dedup.minhash_coefficients(num_hashes, seed)
    p = dedup.MINHASH_PRIME
    mins = ", ".join(
        f"list_min(list_transform(hashes, h -> ({a} * (h % {p}) + {b}) % {p}))" for a, b in coeffs
    )
    return f"[{mins}]"


def minhash_hashes_cte(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    *,
    shingle_k: int = dedup.DEFAULT_SHINGLE_K,
) -> str:
    toks = tokens_sql(text)
    sh = shingles_sql(toks, shingle_k)
    return (
        f"select {id_col} as doc_id,"
        f" list_transform({sh}, s -> {md5_long_sql('s')}) as hashes"
        f" from {table}"
    )


def _minhash_candidate_ctes(
    table: str,
    id_col: str,
    text: str,
    *,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    seed: int,
    max_bucket_size: int | None,
) -> str:
    """CTE chain ending in ``cand(doc_a, doc_b)`` — the banded MinHash
    candidate pairs, mirroring dedup.minhash_lsh_pairs including the
    degenerate-bucket cap (buckets larger than ``max_bucket_size`` dropped
    BEFORE pair expansion, exactly like the Spark left-semi filter)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signature_sql(text, num_hashes=num_hashes, shingle_k=shingle_k, seed=seed)
    band_rows = " union all ".join(
        "select doc_id, {bi} as band, md5(concat_ws(',', {parts})) as band_key from sigs".format(
            bi=bi,
            parts=", ".join(
                f"sig[{bi * rows_per_band + j + 1}]::VARCHAR" for j in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    cap_ctes = ""
    bands_src = "bands_t"
    if max_bucket_size is not None:
        cap_ctes = f""",
bands_ok as (
  select band, band_key from bands_t group by band, band_key
  having count(*) <= {max_bucket_size}
),
bands_f as (select b.* from bands_t b join bands_ok using (band, band_key))"""
        bands_src = "bands_f"
    return f"""hashes_t as ({minhash_hashes_cte(table, id_col, text, shingle_k=shingle_k)}),
sigs as (select doc_id, {sig} as sig from hashes_t where len(hashes) > 0),
bands_t as ({band_rows}){cap_ctes},
cand as (
  select distinct l.doc_id as doc_a, r.doc_id as doc_b
  from {bands_src} l join {bands_src} r
    on l.band = r.band and l.band_key = r.band_key and l.doc_id < r.doc_id
)"""


def minhash_lsh_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    *,
    num_hashes: int = dedup.DEFAULT_NUM_HASHES,
    bands: int = dedup.DEFAULT_BANDS,
    shingle_k: int = dedup.DEFAULT_SHINGLE_K,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> str:
    ctes = _minhash_candidate_ctes(
        table,
        id_col,
        text,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        seed=seed,
        max_bucket_size=max_bucket_size,
    )
    return f"with {ctes}\nselect doc_a, doc_b from cand"


def ngram_jaccard_minhash_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    *,
    shingle_k: int = 1,
    threshold: float = 0.3,
    num_hashes: int = dedup.DEFAULT_NUM_HASHES,
    bands: int = dedup.DEFAULT_BANDS,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> str:
    """Exact Jaccard over MinHash-banded candidates
    (dedup.ngram_jaccard_pairs_minhash)."""
    ctes = _minhash_candidate_ctes(
        table,
        id_col,
        text,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        seed=seed,
        max_bucket_size=max_bucket_size,
    )
    toks = tokens_sql(text)
    sh = shingles_sql(toks, shingle_k)
    return f"""
with {ctes},
sets as (
  select {id_col} as doc_id, {sh} as sset from {table}
),
flt as (select * from sets where len(sset) > 0)
select c.doc_a, c.doc_b,
       len(list_intersect(a.sset, b.sset))::DOUBLE / len(list_distinct(a.sset || b.sset)) as jaccard
from cand c
  join flt a on a.doc_id = c.doc_a
  join flt b on b.doc_id = c.doc_b
where len(list_intersect(a.sset, b.sset))::DOUBLE / len(list_distinct(a.sset || b.sset)) >= {threshold}
"""


def simhash_sql(table: str = "documents", id_col: str = "doc_id", text: str = "text") -> str:
    toks = tokens_sql(text)
    bits = dedup.SIMHASH_BITS
    return f"""
with toks as (
  select {id_col} as doc_id, unnest(list_distinct({toks})) as tok from {table}
),
h as (select doc_id, {md5_long_sql('tok')} as hv from toks),
bitsum as (
  select doc_id, b, sum(case when (hv >> b) & 1 = 1 then 1 else -1 end) as s
  from h, (select unnest(range(0, {bits})) as b) bpos
  group by doc_id, b
)
select doc_id, sum(case when s > 0 then (1::BIGINT << b) else 0 end)::BIGINT as simhash
from bitsum group by doc_id
"""


def connected_components_sql(pairs_sql: str) -> str:
    """dedup.connected_components over the pair set produced by ``pairs_sql``
    (any complete SELECT returning ``doc_a, doc_b``): ``(doc_id, component)``
    where component = min reachable id.  The recursive walk enumerates every
    (node, reachable-node) pair — fine at oracle scale, which is the point of
    the independent implementation (the Spark side converges by propagation,
    never materializing reachability)."""
    return f"""
with recursive pairs as ({pairs_sql}),
edges as (
  select doc_a as a, doc_b as b from pairs
  union
  select doc_b as a, doc_a as b from pairs
),
nodes as (select distinct a as id from edges),
walk(id, front) as (
  select id, id from nodes
  union
  select w.id, e.b from walk w join edges e on e.a = w.front
)
select id as doc_id, min(front)::BIGINT as component from walk group by id
"""


def fuzzy_keep_one_sql(
    pairs_sql: str, table: str = "documents", id_col: str = "doc_id"
) -> str:
    """dedup.dedup_fuzzy_keep_one: drop every cluster member except the min
    id; rows absent from the pair graph are kept (singleton clusters)."""
    comp = connected_components_sql(pairs_sql)
    return f"""
select {id_col} as doc_id from {table}
where {id_col} not in (
  select doc_id from ({comp}) where doc_id != component
)
"""


def bm25_scores_cte(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    *,
    terms: list[str] | None = None,
    term_filter_sql: str | None = None,
    max_expansions: int | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    cte_prefix: str = "",
) -> str:
    """CTE chain computing per-doc BM25 scores for ``terms`` (OR semantics),
    exposing ``scored(doc_id, score, nterms)``.  Mirrors functions/bm25.py:
    idf = ln(1+(N-df+0.5)/(df+0.5)), w = tf/(tf + k1*(1-b+b*dl/avgdl)),
    N counts ALL docs, avgdl = total tokens / N.

    Instead of a literal term list, pass ``term_filter_sql`` (a predicate
    over a column named ``term``, e.g. ``"term like 's%'"``) plus
    ``max_expansions`` to mirror the engine's multi-term ``top_terms_N``
    rewrite: the query terms become the ``max_expansions`` matching
    dictionary terms with the highest df (ties by term ascending — the same
    total order InvertedIndex._expand_terms sorts by)."""
    toks = tokens_sql(text)
    p = cte_prefix
    if (terms is None) == (term_filter_sql is None):
        raise ValueError("pass exactly one of terms / term_filter_sql")
    if terms is not None:
        term_list = ", ".join(
            "'" + t.replace("'", "''") + "'" for t in sorted(set(terms))
        )
        expansion = ""
        tf_where = f"where term in ({term_list})"
    else:
        limit = "" if max_expansions is None else f" limit {max_expansions}"
        expansion = f"""{p}expansion as (
  select term from (
    select term, count(distinct doc_id)::BIGINT as df from {p}toks
    where {term_filter_sql} group by term
  ) order by df desc, term asc{limit}
),
"""
        tf_where = f"where term in (select term from {p}expansion)"
    return f"""
{p}toks as (
  select {id_col} as doc_id, unnest({toks}) as term from {table}
),
{expansion}{p}dl as (select doc_id, count(*)::BIGINT as dl from {p}toks group by doc_id),
{p}stats as (
  select (select count(*) from {table})::BIGINT as n,
         (select count(*) from {p}toks)::DOUBLE / (select count(*) from {table}) as avgdl
),
{p}tf as (
  select doc_id, term, count(*)::BIGINT as tf from {p}toks
  {tf_where} group by doc_id, term
),
{p}dfreq as (select term, count(*)::BIGINT as df from {p}tf group by term),
{p}contrib as (
  select {p}tf.doc_id, {p}tf.term, {p}tf.tf, {p}dl.dl,
         ln(1.0 + ({p}stats.n - {p}dfreq.df + 0.5) / ({p}dfreq.df + 0.5)) as idf,
         ln(1.0 + ({p}stats.n - {p}dfreq.df + 0.5) / ({p}dfreq.df + 0.5))
           * ({p}tf.tf::DOUBLE / ({p}tf.tf::DOUBLE + {k1} * (1.0 - {b} + {b} * {p}dl.dl::DOUBLE / {p}stats.avgdl)))
           as w
  from {p}tf join {p}dfreq using (term) join {p}dl using (doc_id) cross join {p}stats
),
{p}scored as (
  select doc_id, sum(w)::DOUBLE as score, count(*)::BIGINT as nterms
  from {p}contrib group by doc_id
)"""


def phrase_scores_cte(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    *,
    phrase: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    cte_prefix: str = "",
) -> str:
    """CTE chain for an exact match_phrase query, exposing
    ``scored(doc_id, score)`` and ``pdocs(doc_id, ptf)`` (names prefixed
    by ``cte_prefix`` for multi-instance composition).

    Mirrors InvertedIndex.phrase_search: a phrase occurrence starts at
    position p iff every (term, offset) of the phrase is present at p+offset
    (count of DISTINCT offsets = phrase length, so repeated terms must fill
    every one of their offsets); score = idf_sum · ptf/(ptf + k1·norm) with
    idf summed per phrase POSITION (Lucene PhraseQuery passes one
    TermStatistics per position to BM25Similarity).
    """
    toks = tokens_sql(text)
    k = len(phrase)
    offs_values = ", ".join(
        f"('{t.replace(chr(39), chr(39) * 2)}', {i})" for i, t in enumerate(phrase)
    )
    term_list = ", ".join(
        "'" + t.replace("'", "''") + "'" for t in sorted(set(phrase))
    )
    p = cte_prefix
    return f"""
{p}t as (select {id_col} as doc_id, {toks} as toks from {table}),
{p}pos as (
  select doc_id, i - 1 as {p}pos, toks[i] as term
  from {p}t, unnest(range(1, len(toks) + 1)) as r(i)
),
{p}offs as (select * from (values {offs_values}) as o(term, off)),
{p}starts as (
  select p.doc_id, p.{p}pos - o.off as start
  from {p}pos p join {p}offs o using (term)
  where p.{p}pos - o.off >= 0
  group by p.doc_id, p.{p}pos - o.off
  having count(distinct o.off) = {k}
),
{p}pdocs as (select doc_id, count(*)::BIGINT as ptf from {p}starts group by doc_id),
{p}dl as (select doc_id, len(toks)::BIGINT as {p}dl from {p}t),
{p}stats as (
  select (select count(*) from {table})::BIGINT as n,
         (select count(*) from {p}pos)::DOUBLE / (select count(*) from {table}) as avgdl
),
{p}dfreq as (
  select term, count(distinct doc_id)::BIGINT as df from {p}pos
  where term in ({term_list}) group by term
),
{p}idf as (
  select sum(ln(1.0 + ({p}stats.n - {p}dfreq.df + 0.5) / ({p}dfreq.df + 0.5))) as s
  from {p}offs join {p}dfreq using (term) cross join {p}stats
),
{p}scored as (
  select {p}pdocs.doc_id,
         {p}idf.s * ({p}pdocs.ptf::DOUBLE
           / ({p}pdocs.ptf::DOUBLE + {k1} * (1.0 - {b} + {b} * {p}dl.{p}dl::DOUBLE / {p}stats.avgdl)))
           as score
  from {p}pdocs join {p}dl using (doc_id) cross join {p}stats cross join {p}idf
)"""


def phrase_prefix_scores_cte(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    *,
    phrase: list[str],
    max_expansions: int = 50,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """CTE chain for an ES ``match_phrase_prefix`` query, exposing
    ``scored(doc_id, score)`` and ``pdocs(doc_id, ptf)``.

    Mirrors InvertedIndex.phrase_prefix_search: the last phrase position is
    fillable by the first ``max_expansions`` dictionary terms carrying the
    prefix in TERM order (Lucene's lexicographic TermsEnum walk, not the
    df-ranked rewrite); a start needs every one of the len(phrase) offsets
    present (whichever alternative fills the last one); idf sums one
    TermStatistics per fixed position plus one per expanded term
    (MultiPhraseQuery.allTermStats)."""
    toks = tokens_sql(text)
    k = len(phrase)
    prefix = phrase[-1].replace("'", "''")
    fixed_values = ", ".join(
        f"('{t.replace(chr(39), chr(39) * 2)}', {i})" for i, t in enumerate(phrase[:-1])
    )
    fixed_cte = (
        f"select * from (values {fixed_values}) as o(term, off)\n  union all\n  "
        if fixed_values
        else ""
    )
    return f"""
t as (select {id_col} as doc_id, {toks} as toks from {table}),
pos as (
  select doc_id, i - 1 as pos, toks[i] as term
  from t, unnest(range(1, len(toks) + 1)) as r(i)
),
offs as (
  {fixed_cte}select term, {k - 1} as off from (
    select distinct term from pos where term like '{prefix}%'
    order by term asc limit {max_expansions}
  )
),
starts as (
  select p.doc_id, p.pos - o.off as start
  from pos p join offs o using (term)
  where p.pos - o.off >= 0
  group by p.doc_id, p.pos - o.off
  having count(distinct o.off) = {k}
),
pdocs as (select doc_id, count(*)::BIGINT as ptf from starts group by doc_id),
dl as (select doc_id, len(toks)::BIGINT as dl from t),
stats as (
  select (select count(*) from {table})::BIGINT as n,
         (select count(*) from pos)::DOUBLE / (select count(*) from {table}) as avgdl
),
dfreq as (
  select term, count(distinct doc_id)::BIGINT as df from pos
  where term in (select term from offs) group by term
),
idf as (
  select sum(ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) as s
  from offs join dfreq using (term) cross join stats
),
scored as (
  select pdocs.doc_id,
         idf.s * (pdocs.ptf::DOUBLE
           / (pdocs.ptf::DOUBLE + {k1} * (1.0 - {b} + {b} * dl.dl::DOUBLE / stats.avgdl)))
           as score
  from pdocs join dl using (doc_id) cross join stats cross join idf
)"""


def sloppy_phrase_scores_cte(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    *,
    phrase: list[str],
    slop: int,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """CTE chain for a sloppy match_phrase query (``slop`` ≥ 1), exposing
    ``scored(doc_id, score)`` and ``pdocs(doc_id, ptf, sfreq_scaled)``.

    Mirrors InvertedIndex._sloppy_phrase_occurrences exactly: adjusted
    position adj = pos − off (may be NEGATIVE — Lucene reorderings), an
    occurrence at start p iff every offset has adj ∈ [p, p+slop], min adj =
    p, and each term covers its offsets with ≥ multiplicity distinct
    positions; matchLength = max over terms of (min adj) − p.  The sloppy
    frequency is kept in INTEGER arithmetic (scaled by L = lcm(1..slop+1),
    ``//`` floor division — exactly divisible) so the per-doc sum is
    addition-order free and hash-matches the Spark engine bit for bit.
    """
    import math

    toks = tokens_sql(text)
    k = len(phrase)
    L = math.lcm(*range(1, slop + 2))
    offs_values = ", ".join(
        f"('{t.replace(chr(39), chr(39) * 2)}', {i})" for i, t in enumerate(phrase)
    )
    term_list = ", ".join(
        "'" + t.replace("'", "''") + "'" for t in sorted(set(phrase))
    )
    return f"""
t as (select {id_col} as doc_id, {toks} as toks from {table}),
pos as (
  select doc_id, i - 1 as pos, toks[i] as term
  from t, unnest(range(1, len(toks) + 1)) as r(i)
),
offs as (select * from (values {offs_values}) as o(term, off)),
mult as (select term, count(*)::BIGINT as mult from offs group by term),
hits as (
  select p.doc_id, p.term, p.pos, o.off, p.pos - o.off as adj
  from pos p join offs o using (term)
),
cand as (
  select h.doc_id, h.term, h.pos, h.off, h.adj, h.adj - s.d as start
  from hits h, unnest(range(0, {slop} + 1)) as s(d)
),
per_term as (
  select doc_id, start, term,
         count(distinct pos) as npos,
         count(distinct off) as noff,
         min(adj) as tmin
  from cand group by 1, 2, 3
),
starts as (
  select pt.doc_id, pt.start, max(pt.tmin) - pt.start as ml
  from per_term pt join mult m using (term)
  group by pt.doc_id, pt.start
  having sum(pt.noff) = {k}
     and min(pt.npos - m.mult) >= 0
     and min(pt.tmin) = pt.start
),
pdocs as (
  select doc_id, count(*)::BIGINT as ptf,
         sum({L} // (1 + ml))::BIGINT as sfreq_scaled
  from starts group by doc_id
),
dl as (select doc_id, len(toks)::BIGINT as dl from t),
stats as (
  select (select count(*) from {table})::BIGINT as n,
         (select count(*) from pos)::DOUBLE / (select count(*) from {table}) as avgdl
),
dfreq as (
  select term, count(distinct doc_id)::BIGINT as df from pos
  where term in ({term_list}) group by term
),
idf as (
  select sum(ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))) as s
  from offs join dfreq using (term) cross join stats
),
scored as (
  select pdocs.doc_id,
         idf.s * ((pdocs.sfreq_scaled::DOUBLE / {L})
           / (pdocs.sfreq_scaled::DOUBLE / {L}
              + {k1} * (1.0 - {b} + {b} * dl.dl::DOUBLE / stats.avgdl)))
           as score
  from pdocs join dl using (doc_id) cross join stats cross join idf
)"""


def lang_id_sql(table: str = "documents", id_col: str = "doc_id", text: str = "text") -> str:
    toks = tokens_sql(text)
    langs = sorted(LANG_STOPWORDS)
    score_cols = []
    for lang in langs:
        words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        score_cols.append(f"len(list_filter(toks, t -> t in ({words}))) as s_{lang}")
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    guess = "'und'"
    for lang in reversed(langs):
        guess = f"case when best > 0 and s_{lang} = best then '{lang}' else {guess} end"
    return f"""
with t as (select {id_col} as doc_id, {toks} as toks from {table}),
s as (select doc_id, {', '.join(score_cols)} from t),
g as (select doc_id, {best} as best, * exclude (doc_id) from s)
select doc_id, {guess} as lang_guess from g
"""


def quality_features_sql(table: str = "documents", id_col: str = "doc_id", text: str = "text") -> str:
    toks = tokens_sql(text)
    stops = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    return f"""
with t as (select {id_col} as doc_id, {text} as txt, {toks} as toks from {table})
select doc_id,
  length(txt)::BIGINT as n_chars,
  len(toks)::BIGINT as n_tokens,
  case when len(toks) > 0 then len(list_distinct(toks))::DOUBLE / len(toks) else 0.0 end as uniq_token_ratio,
  case when len(toks) > 0 then list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) else 0.0 end as mean_token_len,
  case when len(toks) > 0 then len(list_filter(toks, x -> x in ({stops})))::DOUBLE / len(toks) else 0.0 end as stopword_ratio,
  case when length(txt) > 0 then length(regexp_replace(lower(txt), '[^a-z0-9]', '', 'g'))::DOUBLE / length(txt) else 0.0 end as alnum_ratio
from t
"""


def cosine_sql(vec_a: str, vec_b: str) -> str:
    """cosine(a, b) with float64 accumulation (matches similarity._dot)."""
    dot = f"list_sum(list_transform(range(1, len({vec_a}) + 1), i -> ({vec_a})[i]::DOUBLE * ({vec_b})[i]::DOUBLE))"
    na = f"sqrt(list_sum(list_transform({vec_a}, x -> x::DOUBLE * x::DOUBLE)))"
    nb = f"sqrt(list_sum(list_transform({vec_b}, x -> x::DOUBLE * x::DOUBLE)))"
    return f"({dot}) / (({na}) * ({nb}))"


# --- random-hyperplane LSH (extras/similarity.py) ----------------------------


def ivf_topk_sql(
    *,
    n_lists: int,
    nprobe: int,
    k: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec: str = "embedding",
    query_id: int = 0,
) -> str:
    """similarity.build_ivf_index + ivf_topk: coarse centers = the n_lists
    smallest-id corpus vectors; assignment = argmax cosine (tie → smallest
    center index); probe the nprobe nearest lists; exact cosine top-k."""
    cc = cosine_sql("e." + vec, "c.cvec")
    qc = cosine_sql("c.cvec", "qv")
    fc = cosine_sql(vec, "qv")
    return f"""
with centers as (
  select {id_col} as cid, {vec} as cvec,
         row_number() over (order by {id_col}) - 1 as list_idx
  from {table} order by {id_col} limit {n_lists}
),
q as (select {vec} as qv from {table} where {id_col} = {query_id}),
scored_centers as (
  select e.{id_col} as vec_id, e.{vec} as {vec}, c.list_idx, {cc} as ccos
  from {table} e cross join centers c
),
assign as (
  select vec_id, {vec}, list_idx from (
    select *, row_number() over (
      partition by vec_id order by ccos desc, list_idx asc) as rn
    from scored_centers) t where rn = 1
),
qprobe as (
  select c.list_idx from centers c cross join q
  order by {qc} desc, c.list_idx asc limit {nprobe}
),
cand as (select a.vec_id, a.{vec} from assign a join qprobe using (list_idx)),
scored as (select vec_id, {fc} as cs from cand cross join q)
select vec_id, round(cs, 6) as cosine
from scored order by cs desc, vec_id asc limit {k}
"""


def rp_sig_ctes(planes, table: str = "embeddings", id_col: str = "vec_id", vec: str = "embedding") -> str:
    """CTE chain ending in ``sigs(vec_id, sig)`` — the sign-bit RP-LSH
    signature from the SAME plane matrix similarity.rp_planes produced
    (full-precision float64 literals, bit j set iff dot(vec, plane_j) > 0)."""
    values = ",\n    ".join(
        "({j}, [{vals}]::DOUBLE[])".format(
            j=j, vals=", ".join(repr(float(x)) for x in row)
        )
        for j, row in enumerate(planes)
    )
    dot = f"list_sum(list_transform(range(1, len({vec}) + 1), i -> ({vec})[i]::DOUBLE * plane[i]))"
    return f"""pl as (select * from (values
    {values}) as t(j, plane)),
sigs as (
  select {id_col} as vec_id,
         sum(case when {dot} > 0 then (1::BIGINT << j) else 0 end)::BIGINT as sig
  from {table} cross join pl
  group by {id_col}
)"""


def rp_lsh_topk_sql(
    planes,
    *,
    k: int,
    max_probe_hamming: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec: str = "embedding",
    query_id: int = 0,
) -> str:
    """similarity.rp_lsh_topk: probe buckets within hamming distance of the
    query's signature, exact cosine over the probed slice, top-k."""
    cos = cosine_sql(vec, "qv")
    return f"""
with {rp_sig_ctes(planes, table, id_col, vec)},
q as (select {vec} as qv from {table} where {id_col} = {query_id}),
qsig as (select sig as qs from sigs where vec_id = {query_id}),
probed as (
  select e.{id_col} as vec_id, e.{vec} as {vec}
  from {table} e join sigs s on s.vec_id = e.{id_col} cross join qsig
  where bit_count(xor(s.sig, qsig.qs)) <= {max_probe_hamming}
),
scored as (select vec_id, {cos} as c from probed cross join q)
select vec_id, round(c, 6) as cosine
from scored
order by c desc, vec_id asc
limit {k}
"""


def rp_band_topk_sql(
    planes,
    *,
    k: int,
    bands: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec: str = "embedding",
    query_id: int = 0,
) -> str:
    """similarity.rp_band_topk_indexed: candidates agree with the query on
    >= 1 band key (band key = ``(sig >> band*width) & mask``, identical to
    the Spark band UDF for n_planes <= 63), exact cosine, top-k."""
    n_planes = len(planes)
    width = n_planes // bands
    mask = (1 << width) - 1
    cos = cosine_sql(vec, "qv")
    return f"""
with {rp_sig_ctes(planes, table, id_col, vec)},
chunks as (
  select vec_id, j as band, (sig >> (j * {width})) & {mask} as bits
  from sigs cross join (select unnest(range(0, {bands})) as j) bj
),
q as (select {vec} as qv from {table} where {id_col} = {query_id}),
qchunks as (select band, bits from chunks where vec_id = {query_id}),
cand as (select distinct c.vec_id from chunks c join qchunks using (band, bits)),
probed as (
  select e.{id_col} as vec_id, e.{vec} as {vec}
  from {table} e join cand on cand.vec_id = e.{id_col}
),
scored as (select vec_id, {cos} as c from probed cross join q)
select vec_id, round(c, 6) as cosine
from scored
order by c desc, vec_id asc
limit {k}
"""


def rp_band_near_pairs_sql(
    planes,
    *,
    threshold: float,
    n_planes: int = 16,
    bands: int = 4,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec: str = "embedding",
    max_bucket_size: int | None = 1000,
) -> str:
    """similarity.rp_band_near_pairs: banded signature equi-join candidates
    (buckets over ``max_bucket_size`` dropped before pairing, like the Spark
    window-count cap), exact cosine verify."""
    width = n_planes // bands
    mask = (1 << width) - 1
    cos = cosine_sql("a." + vec, "b." + vec)
    cap_ctes, chunks_src = "", "chunks"
    if max_bucket_size is not None:
        cap_ctes = f""",
chunks_ok as (
  select band, bits from chunks group by band, bits
  having count(*) <= {max_bucket_size}
),
chunks_f as (select c.* from chunks c join chunks_ok using (band, bits))"""
        chunks_src = "chunks_f"
    return f"""
with {rp_sig_ctes(planes, table, id_col, vec)},
chunks as (
  select vec_id, j as band, (sig >> (j * {width})) & {mask} as bits
  from sigs cross join (select unnest(range(0, {bands})) as j) bj
){cap_ctes},
cand as (
  select distinct l.vec_id as id_a, r.vec_id as id_b
  from {chunks_src} l join {chunks_src} r
    on l.band = r.band and l.bits = r.bits and l.vec_id < r.vec_id
),
scored as (
  select c.id_a, c.id_b, {cos} as cos
  from cand c join {table} a on a.{id_col} = c.id_a join {table} b on b.{id_col} = c.id_b
)
select id_a, id_b, round(cos, 6) as cosine
from scored where cos >= {threshold}
"""


def simhash_near_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    *,
    max_hamming: int = 3,
    bands: int = 5,
    max_bucket_size: int | None = 1000,
) -> str:
    """dedup.simhash_near_pairs: pigeonhole banding over the 60-bit simhash
    (chunk buckets over ``max_bucket_size`` dropped before pairing, like the
    Spark window-count cap)."""
    width = dedup.SIMHASH_BITS // bands
    mask = (1 << width) - 1
    cap_ctes, chunks_src = "", "chunks"
    if max_bucket_size is not None:
        cap_ctes = f""",
chunks_ok as (
  select chunk, val from chunks group by chunk, val
  having count(*) <= {max_bucket_size}
),
chunks_f as (select c.* from chunks c join chunks_ok using (chunk, val))"""
        chunks_src = "chunks_f"
    return f"""
with sh as ({simhash_sql(table, id_col, text)}),
chunks as (
  select doc_id, simhash, j as chunk, (simhash >> (j * {width})) & {mask} as val
  from sh cross join (select unnest(range(0, {bands})) as j) bj
){cap_ctes},
cand as (
  select distinct l.doc_id as doc_a, r.doc_id as doc_b,
         bit_count(xor(l.simhash, r.simhash))::BIGINT as hamming
  from {chunks_src} l join {chunks_src} r
    on l.chunk = r.chunk and l.val = r.val and l.doc_id < r.doc_id
)
select doc_a, doc_b, hamming from cand where hamming <= {max_hamming}
"""


# --- ES search aggregations over hits (plans/aggs.py) -----------------------


def matched_ids_cte(
    terms: list[str],
    msm: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
) -> str:
    """CTE chain exposing ``matched(doc_id)`` — docs containing at least
    ``msm`` distinct query terms (ES bool match; AND ≡ len(terms), OR ≡ 1).
    Mirrors InvertedIndex.score_matches' matched set."""
    toks = tokens_sql(text)
    term_list = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    return f"""
mtoks as (select {id_col} as doc_id, unnest({toks}) as term from {table}),
matched as (
  select doc_id from (
    select doc_id, count(distinct term) as nt from mtoks
    where term in ({term_list}) group by doc_id
  ) where nt >= {msm}
)"""


def hll_cardinality_sql(
    table: str,
    col: str,
    p: int = 12,
    round_to: int = 2,
    where: str | None = None,
) -> str:
    """DuckDB twin of extras/sketches.py hll_cardinality: SAME md5-60-bit
    hash, SAME register/rank derivation (length(bin(w)) strips leading
    zeros in both engines), SAME alpha and small-range correction — the
    estimate hash-matches Spark's up to the shared rounding."""
    from .sketches import HLL_HASH_BITS, hll_alpha

    m = 1 << p
    alpha = hll_alpha(m)
    wbits = HLL_HASH_BITS - p
    # parenthesized + explicitly spaced: a predicate ending in an identifier
    # (e.g. a bare boolean column) must not fuse with the injected "and"
    w = f"where ({where}) and" if where else "where"
    return f"""
with h as (
  select {md5_long_sql(col)} as h from {table} {w} {col} is not null
),
regs as (
  select h % {m} as register,
         max(case when h >> {p} = 0 then {wbits + 1}
             else {wbits + 1} - length(bin(h >> {p})) end) as rank
  from h group by register
),
agg as (
  select sum(power(2.0, -rank)) as s_present, count(*) as v_present from regs
)
select round(
  case when v_present = 0 then 0.0
       when ({alpha!r}::DOUBLE * {m} * {m}) / (s_present + ({m} - v_present)) <= {2.5 * m}::DOUBLE
            and ({m} - v_present) > 0
       then {float(m)!r}::DOUBLE * ln({float(m)!r}::DOUBLE / ({m} - v_present))
       else ({alpha!r}::DOUBLE * {m} * {m}) / (s_present + ({m} - v_present))
  end, {round_to}) as estimate
from agg
"""
