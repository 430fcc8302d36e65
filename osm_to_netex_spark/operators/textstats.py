"""Text analysis: language-ID, quality scoring, token counting, fingerprints.

Pure Catalyst expressions over a text column; all values reproducible in the
DuckDB oracle (functions.text + the stopword heuristics below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import text as tx
from ..functions.portable import DUCK, SPARK
from ..functions.stages import run_stages, stages_sql

# tiny built-in stopword inventories (n-gram/stopword heuristic lang-ID)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "no": ["og", "i", "det", "som", "er", "til", "av", "en", "på", "for"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "für", "auf"],
    "fr": ["le", "la", "et", "les", "des", "est", "pour", "dans", "que", "une"],
}


def _arr_lit(words: list[str], d: str) -> str:
    inner = ", ".join(f"'{w}'" for w in words)
    return f"array({inner})" if d == SPARK else f"[{inner}]"


def stopword_hits(text_col: str, lang: str, d: str = SPARK) -> str:
    """Count of tokens that are stopwords of `lang`."""
    toks = tx.tokens(text_col, d)
    arr = _arr_lit(STOPWORDS[lang], d)
    if d == SPARK:
        return f"size(filter({toks}, t -> array_contains({arr}, t)))"
    return f"len(list_filter({toks}, t -> list_contains({arr}, t)))"


def lang_id_expr(text_col: str, d: str = SPARK) -> str:
    """Best language by stopword hit count; 'und' when no hits at all.
    Deterministic tiebreak: language order en < no < de < fr (greatest-hit
    first occurrence via iterative CASE)."""
    langs = list(STOPWORDS)
    hits = {lang: stopword_hits(text_col, lang, d) for lang in langs}
    best = " , ".join(hits[lang] for lang in langs)
    cases = " ".join(
        f"WHEN greatest({best}) = {hits[lang]} THEN '{lang}'" for lang in langs
    )
    return f"(CASE WHEN greatest({best}) = 0 THEN 'und' {cases} END)"


def quality_score_expr(text_col: str, d: str = SPARK) -> str:
    """Composite quality ∈ [0,1]: alpha-character ratio, mean-word-length
    band, stopword density — rounded to 6 decimals (pure arithmetic)."""
    toks = tx.tokens(text_col, d)
    ln = f"size({toks})" if d == SPARK else f"len({toks})"
    nchar = f"length({text_col})"
    alpha = f"length(regexp_replace(lower({text_col}), '[^a-z]', ''))" if d == SPARK else \
        f"length(regexp_replace(lower({text_col}), '[^a-z]', '', 'g'))"
    alpha_ratio = f"(cast({alpha} as double) / nullif(cast({nchar} as double), 0.0e0))"
    mean_wl = f"(cast({alpha} as double) / nullif(cast({ln} as double), 0.0e0))"
    wl_band = f"(CASE WHEN {mean_wl} BETWEEN 3.0e0 AND 10.0e0 THEN 1.0e0 ELSE 0.5e0 END)"
    sw = stopword_hits(text_col, "en", d)
    sw_ratio = f"least(1.0e0, 3.0e0 * cast({sw} as double) / nullif(cast({ln} as double), 0.0e0))"
    return (
        f"round(coalesce(({alpha_ratio} * 0.4e0 + {wl_band} * 0.3e0 + {sw_ratio} * 0.3e0), 0.0e0), 6)"
    )


def text_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, lang_pred, quality, n_tokens_ws, n_tokens_re, fingerprint)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(lang_id_expr(text_col)).alias("lang_pred"),
        F.expr(quality_score_expr(text_col)).alias("quality"),
        F.expr(f"size({tx.ws_tokens(text_col, SPARK)})").cast("long").alias("n_tokens_ws"),
        F.expr(f"size({tx.tokens(text_col, SPARK)})").cast("long").alias("n_tokens_re"),
        F.expr(tx.rolling_fingerprint(text_col, SPARK)).alias("fingerprint"),
    )


def text_stats_oracle_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    d = DUCK
    return f"""
        select {id_col} as doc_id,
               {lang_id_expr(text_col, d)} as lang_pred,
               {quality_score_expr(text_col, d)} as quality,
               cast(len({tx.ws_tokens(text_col, d)}) as bigint) as n_tokens_ws,
               cast(len({tx.tokens(text_col, d)}) as bigint) as n_tokens_re,
               {tx.rolling_fingerprint(text_col, d)} as fingerprint
        from {table}
    """


def repetition_stats(
    docs: DataFrame, n: int = 2, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style intra-document repetition filters (Rae et al. 2021 §A1.1):
    per doc, the fraction of n-gram OCCURRENCES that are repeats and the
    fraction of document characters covered by the single most frequent
    n-gram.  High values mean boilerplate / degenerate text.

    Scale shape: one explode keyed by (doc_id, gram) with map-side combine —
    per-doc cardinality is bounded by doc length, so partitions stay balanced
    without salting (no gram is shared across groups).  The argmax n-gram is
    a struct-max aggregate (count, then gram length, then gram — fully
    deterministic), not a window, so the whole thing is two partial-agg
    shuffles on doc_id.  Text leaves the scan only as the grams themselves.
    """
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).alias("n_chars"),
        F.explode(F.expr(tx.word_shingles(text_col, n, SPARK))).alias("gram"),
    )
    per_gram = grams.groupBy("doc_id", "n_chars", "gram").agg(
        F.count("*").alias("cnt")
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.max(F.struct("cnt", F.length("gram").alias("glen"), "gram")).alias("top"),
        F.first("n_chars").alias("n_chars"),
    )
    out = per_doc.selectExpr(
        "doc_id",
        "cast(n_grams as bigint) as n_grams",
        "cast(n_distinct as bigint) as n_distinct",
        "round(cast(n_grams - n_distinct as double) / cast(n_grams as double), 9) as dup_frac",
        "cast(top.cnt as bigint) as top_cnt",
        "round(cast(top.cnt * top.glen as double) / cast(n_chars as double), 9) as top_char_frac",
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(out, "doc_id", "left").selectExpr(
        "doc_id",
        "coalesce(n_grams, 0) as n_grams",
        "coalesce(n_distinct, 0) as n_distinct",
        "coalesce(dup_frac, 0.0e0) as dup_frac",
        "coalesce(top_cnt, 0) as top_cnt",
        "coalesce(top_char_frac, 0.0e0) as top_char_frac",
    )


def repetition_stats_oracle_sql(
    n: int = 2, table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB replay: same grams, same struct-max tiebreak (count desc,
    gram length desc, gram desc), same rounding."""
    d = DUCK
    sh = tx.word_shingles(text_col, n, d)
    return f"""
        with g as (select {id_col} as doc_id, len({text_col}) as n_chars,
                          unnest({sh}) as gram
                   from {table}),
        pg as (select doc_id, n_chars, gram, count(*) as cnt
               from g group by doc_id, n_chars, gram),
        pd as (select doc_id,
                      sum(cnt) as n_grams,
                      count(*) as n_distinct,
                      any_value(n_chars) as n_chars,
                      max(struct_pack(cnt := cnt, glen := len(gram), gram := gram)) as top
               from pg group by doc_id)
        select b.{id_col} as doc_id,
               cast(coalesce(p.n_grams, 0) as bigint) as n_grams,
               cast(coalesce(p.n_distinct, 0) as bigint) as n_distinct,
               coalesce(round(cast(p.n_grams - p.n_distinct as double)
                              / cast(p.n_grams as double), 9), 0.0e0) as dup_frac,
               cast(coalesce((p.top).cnt, 0) as bigint) as top_cnt,
               coalesce(round(cast((p.top).cnt * (p.top).glen as double)
                              / cast(p.n_chars as double), 9), 0.0e0) as top_char_frac
        from {table} b left join pd p on b.{id_col} = p.doc_id"""


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE = r"\+?[0-9][0-9 ()-]{7,}[0-9]"


def redact_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII scrubbing — (doc_id, clean_text, n_emails, n_ips, n_phones):
    emails, IPv4 addresses, and phone-like digit runs replaced by typed
    placeholder tokens, with per-doc redaction counts for pipeline metrics.

    Passes run in a FIXED order (email → ip → phone) so later patterns see
    earlier placeholders, never raw digits that were already classified —
    the op sequence, not engine internals, defines the result.  The three
    patterns are written in the common subset of Java regex and RE2
    (character classes, bounded repeats, \\b) so Spark and the DuckDB oracle
    match byte-for-byte.  Pure projection: scan-parallel, shuffle-free, and
    the counts come from regexp_extract_all on the ORIGINAL text (so
    overlapping classes count what each pass actually saw).
    """
    # Spark SQL string literals process backslash escapes (\b would become
    # backspace); double them so the regex engine sees the same bytes the
    # DuckDB oracle does
    e, i, p = (x.replace("\\", "\\\\") for x in (PII_EMAIL, PII_IP, PII_PHONE))
    step1 = f"regexp_replace({text_col}, '{e}', '<EMAIL>')"
    step2 = f"regexp_replace({step1}, '{i}', '<IP>')"
    step3 = f"regexp_replace({step2}, '{p}', '<PHONE>')"
    return docs.selectExpr(
        f"{id_col} as doc_id",
        f"{step3} as clean_text",
        f"cast(size(regexp_extract_all({text_col}, '{e}', 0)) as bigint) as n_emails",
        f"cast(size(regexp_extract_all({step1}, '{i}', 0)) as bigint) as n_ips",
        f"cast(size(regexp_extract_all({step2}, '{p}', 0)) as bigint) as n_phones",
    )


def redact_pii_oracle_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB replay: same patterns, same pass order ('g' = all matches)."""
    e, i, p = PII_EMAIL, PII_IP, PII_PHONE
    step1 = f"regexp_replace({text_col}, '{e}', '<EMAIL>', 'g')"
    step2 = f"regexp_replace({step1}, '{i}', '<IP>', 'g')"
    step3 = f"regexp_replace({step2}, '{p}', '<PHONE>', 'g')"
    return f"""
        select {id_col} as doc_id,
               {step3} as clean_text,
               cast(len(regexp_extract_all({text_col}, '{e}')) as bigint) as n_emails,
               cast(len(regexp_extract_all({step1}, '{i}')) as bigint) as n_ips,
               cast(len(regexp_extract_all({step2}, '{p}')) as bigint) as n_phones
        from {table}"""


def line_dedup(
    docs: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document line deduplication (RefinedWeb §G.2 / CCNet-style
    boilerplate removal) — (doc_id, clean_text, n_lines, n_removed): a line
    whose trimmed form occurs in >= min_docs DISTINCT documents is stripped
    from EVERY document (nav bars, cookie banners, license footers); the
    survivors are rejoined with '\\n' in original order.

    Scale shape: lines travel the count shuffle as 60-bit portable hashes,
    never strings — the per-line payload on the hot aggregation is 16 bytes.
    The boilerplate set (distinct lines seen in >= min_docs docs) is
    corpus-vocabulary-sized, so the removal join is a hash-keyed LEFT ANTI
    equi-join, not a broadcast assumption; the boilerplate lines themselves
    are the hot keys of the anti-join and AQE skew split bounds them.
    Reassembly is one groupBy(doc_id) with order carried in data
    (posexplode position + array_sort), the same discipline as J2 way
    reassembly.  Two shuffles total (line-hash agg, doc regroup) plus the
    anti-join.  Blank lines are never counted as boilerplate and always
    survive.  60-bit hash collisions could strip a benign line that collides
    with a boilerplate one (~2^-60 per distinct-line pair); the DuckDB
    oracle replays the identical hashes, so the gate is still exact.
    """
    from ..functions.portable import phash60

    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"size(split({text_col}, '\\n')) ").cast("long").alias("n_lines"),
        F.posexplode(F.split(text_col, "\n")).alias("pos", "line"),
    ).withColumn("lh", F.expr(phash60("trim(line)", SPARK)))
    hot = (
        lines.filter("length(trim(line)) > 0")
        .groupBy("lh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("lh")
    )
    kept = lines.join(hot, "lh", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, line))), "
            "x -> x.line), '\\n')"
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
        F.first("n_lines").alias("n_lines"),
    )
    base = docs.select(F.col(id_col).alias("doc_id"), F.expr(
        f"cast(size(split({text_col}, '\\n')) as bigint)").alias("n_lines"))
    return base.join(rebuilt.drop("n_lines"), "doc_id", "left").selectExpr(
        "doc_id",
        "coalesce(clean_text, '') as clean_text",
        "n_lines",
        "cast(n_lines - coalesce(n_kept, 0) as bigint) as n_removed",
    )


def line_dedup_oracle_sql(
    min_docs: int = 2,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB replay: identical portable hashes, identical blank-line policy,
    string_agg ordered by the carried position."""
    from ..functions.portable import phash60

    lh = phash60("trim(line)", DUCK)
    return f"""
        with l as (
            select {id_col} as doc_id, t.i - 1 as pos, lines[t.i] as line,
                   len(lines) as n_lines
            from (select {id_col}, string_split({text_col}, chr(10)) as lines
                  from {table}) s({id_col}, lines),
                 unnest(generate_series(1, len(lines))) t(i)
        ),
        lh as (select *, {lh} as h from l),
        hot as (select h from lh where length(trim(line)) > 0
                group by h having count(distinct doc_id) >= {min_docs}),
        kept as (select * from lh where h not in (select h from hot)),
        rebuilt as (
            select doc_id,
                   string_agg(line, chr(10) order by pos) as clean_text,
                   count(*) as n_kept
            from kept group by doc_id
        )
        select b.doc_id,
               coalesce(r.clean_text, '') as clean_text,
               cast(b.n_lines as bigint) as n_lines,
               cast(b.n_lines - coalesce(r.n_kept, 0) as bigint) as n_removed
        from (select {id_col} as doc_id,
                     len(string_split({text_col}, chr(10))) as n_lines
              from {table}) b
        left join rebuilt r on b.doc_id = r.doc_id"""


_ENT_Q = 1_000_000_000  # ln quantization: 1e-9 units (classify.py discipline)


def lexical_diversity(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Lexical-diversity quality signals per doc — (doc_id, n_tokens,
    n_types, ttr, hapax_frac, entropy_q, entropy): token Shannon entropy,
    type-token ratio, and hapax-legomenon fraction.  Low entropy/TTR flags
    the degenerate boilerplate the Gopher repetition filters catch from the
    other direction; the pair together is the standard quality dashboard.

    Exactness: per-token-type terms cnt·floor(ln(cnt/n)·1e9) are integer
    products folded per doc (order-free); entropy = −Σ/(n·1e9) is one double
    division at the end.  Shape: one (doc, token) count shuffle with
    map-side combine + one per-doc fold — corpus never shuffles twice.
    """
    from ..functions import text as tx

    toks = docs.selectExpr(
        f"{id_col} as doc_id", f"explode({tx.tokens(text_col, SPARK)}) as tok"
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    # the entropy fold needs n (per-doc total) INSIDE the per-type term, so
    # stage the total first and re-aggregate the joined counts
    totals = per_tok.groupBy("doc_id").agg(F.sum("cnt").alias("n"))
    terms = per_tok.join(totals, "doc_id").selectExpr(
        "doc_id", "n",
        f"cnt * cast(floor(ln(cast(cnt as double) / cast(n as double)) * {_ENT_Q}) as bigint) as term_q",
        "cnt",
    )
    agg = terms.groupBy("doc_id").agg(
        F.first("n").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.expr("case when cnt = 1 then 1 else 0 end")).alias("n_hapax"),
        F.sum("term_q").alias("sum_q"),
    )
    base = docs.selectExpr(f"{id_col} as doc_id")
    return base.join(agg, "doc_id", "left").selectExpr(
        "doc_id",
        "cast(coalesce(n_tokens, 0) as bigint) as n_tokens",
        "cast(coalesce(n_types, 0) as bigint) as n_types",
        "round(cast(n_types as double) / cast(n_tokens as double), 9) as ttr",
        "round(cast(n_hapax as double) / cast(n_types as double), 9) as hapax_frac",
        "cast(coalesce(-sum_q, 0) as bigint) as entropy_q",
        f"round(cast(-sum_q as double) / (cast(n_tokens as double) * {_ENT_Q}.0e0), 9) as entropy",
    )


def lexical_diversity_oracle_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB replay: same counts, same quantized terms, same divisions."""
    from ..functions import text as tx

    return f"""
        with toks as (
            select {id_col} as doc_id, unnest({tx.tokens(text_col, DUCK)}) as tok
            from {table}
        ),
        per_tok as (select doc_id, tok, count(*) as cnt
                    from toks group by doc_id, tok),
        totals as (select doc_id, sum(cnt) as n from per_tok group by doc_id),
        terms as (
            select p.doc_id, t.n, p.cnt,
                   p.cnt * cast(floor(ln(cast(p.cnt as double) / cast(t.n as double)) * {_ENT_Q}) as bigint) as term_q
            from per_tok p join totals t on t.doc_id = p.doc_id
        ),
        agg as (
            select doc_id, any_value(n) as n_tokens, count(*) as n_types,
                   sum(case when cnt = 1 then 1 else 0 end) as n_hapax,
                   sum(term_q) as sum_q
            from terms group by doc_id
        )
        select b.{id_col} as doc_id,
               cast(coalesce(a.n_tokens, 0) as bigint) as n_tokens,
               cast(coalesce(a.n_types, 0) as bigint) as n_types,
               round(cast(a.n_types as double) / cast(a.n_tokens as double), 9) as ttr,
               round(cast(a.n_hapax as double) / cast(a.n_types as double), 9) as hapax_frac,
               cast(coalesce(-a.sum_q, 0) as bigint) as entropy_q,
               round(cast(-a.sum_q as double) / (cast(a.n_tokens as double) * {_ENT_Q}.0e0), 9) as entropy
        from {table} b left join agg a on a.doc_id = b.{id_col}"""


def _bpe_stages(d: str, docs, k_merges: int, top_n: int, text_col: str):
    from ..functions import text as _tx

    toks = _tx.tokens(text_col, d)
    if d == SPARK:
        tok_rows = f"select explode({toks}) as w from __bpe_docs"
        wrap = "regexp_replace(w, '(.)', '|$1|')"
        syms = "transform(split(e, '\\\\|\\\\|'), s -> replace(s, '|', ''))"
        pair_rows = (
            "select freq, explode(transform(sequence(1, size(sy) - 1), i -> "
            "concat('|', sy[i - 1], '||', sy[i], '|'))) as pair "
            "from (select freq, {syms} as sy from {prev}) z where size(sy) > 1"
        )
        tok_out = "select freq, explode({syms}) as token from {prev}"
    else:
        tok_rows = f"select unnest({toks}) as w from __bpe_docs"
        wrap = "regexp_replace(w, '(.)', '|\\1|', 'g')"
        syms = "list_transform(string_split(e, '||'), s -> replace(s, '|', ''))"
        pair_rows = (
            "select freq, unnest(list_transform(generate_series(1, len(sy) - 1), i -> "
            "concat('|', sy[i], '||', sy[i + 1], '|'))) as pair "
            "from (select freq, {syms} as sy from {prev}) z where len(sy) > 1"
        )
        tok_out = "select freq, unnest({syms}) as token from {prev}"

    def merge(r: int) -> list:
        # the argmax pair of round r, then its literal replace in every word
        prev = f"__bpe_v{r - 1}"
        pat = f"coalesce((select pair from __bpe_m{r}), '|~miss~|')"
        return [
            (f"__bpe_m{r}", f"""
                select pair from ({pair_rows.format(syms=syms, prev=prev)}) pz
                group by pair order by sum(freq) desc, pair asc limit 1"""),
            (f"__bpe_v{r}", f"""
                select w, freq, replace(e, {pat}, replace({pat}, '||', '')) as e
                from {prev}"""),
        ]

    final = tok_out.format(syms=syms, prev=f"__bpe_v{int(k_merges)}")
    return [
        ("__bpe_docs", docs),
        ("__bpe_v0", f"""
            select w, freq, {wrap} as e
            from (select w, cast(count(*) as bigint) as freq
                  from ({tok_rows}) tk group by w) vv"""),
        *(stage for r in range(1, int(k_merges) + 1) for stage in merge(r)),
    ], f"""
        select token, cast(sum(freq) as bigint) as token_count
        from ({final}) f
        group by token
        order by token_count desc, token asc
        limit {int(top_n)}"""


def bpe_encode_sql(
    d: str,
    table: str = "documents",
    k_merges: int = 6,
    top_n: int = 100,
    text_col: str = "text",
) -> str:
    """BPE tokenizer, trained AND applied over ``k_merges`` merge rounds
    (Sennrich et al. 2016), as DuckDB materialized CTEs; :func:`bpe_encode`
    runs the same stages on Spark.  Each round counts adjacent symbol
    pairs over the VOCABULARY weighted by word frequency, picks the argmax
    (count desc, pair asc — deterministic tiebreak) and applies it to
    every word's symbol string; the output is the post-merge subword
    vocabulary (token, token_count), top ``top_n``.

    Symbol representation: each symbol is wrapped as ``|sym|`` and words
    are the concatenation, so a merge is a LITERAL string replace of
    ``|x||y|`` with ``|xy|`` — replace() is left-to-right non-overlapping
    in both engines, which is exactly BPE's greedy within-word merge order,
    and adjacent matches share no characters so no occurrence is missed.
    '|' cannot occur inside a symbol (tokens() strips non-alphanumerics).
    A round with no remaining pairs coalesces to an unmatchable pattern
    (no-op) rather than NULLing the corpus.

    Scale shape: the corpus collapses to the vocabulary ONCE (one map-side
    combined shuffle); every merge round — pair count, 1-row argmax, apply
    — runs over the vocab (≪ corpus, the bpe_pairs/top_terms discipline);
    the final token count is again vocab-sized.  The unroll depth is the
    merge count, a tokenizer-training constant, not a data-dependent loop.
    """
    docs = f"select {text_col} from {table}"
    return stages_sql(*_bpe_stages(d, docs, k_merges, top_n, text_col))


def bpe_encode(
    docs: DataFrame,
    k_merges: int = 6,
    top_n: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Engine execution of :func:`bpe_encode_sql`'s semantics, each merge
    round's argmax and apply a stage (the sssp discipline).  Round r's
    vocab feeds both the argmax subquery and the merge apply, so one
    Spark WITH-query, which inlines its CTEs, would double the tree per
    round and re-evaluate v0 (corpus tokenization) 2^k times (measured
    42 s at sf0.1 for k=6; the staged form ~3 s, same rows)."""
    return run_stages(
        docs.sparkSession, *_bpe_stages(SPARK, docs.select(text_col), k_merges, top_n, text_col)
    )


def zipf_fit_sql(d: str, table: str = "documents", top_n: int = 200,
                 text_col: str = "text") -> str:
    """Zipf-law fit of the corpus term distribution: OLS slope/intercept of
    ln(freq) vs ln(rank) over the top ``top_n`` terms — the sanity metric a
    corpus pipeline tracks (natural language sits near slope −1; synthetic
    or deduplicated-to-death corpora drift).

    Exactness: ln values are quantized to bigint 1e-6 units at the source
    (|ln| ≤ ~15 here ⇒ products ≤ ~2·10^14, sums over top_n ≪ 2^63), so the
    OLS moment sums are order-free integer folds; slope and intercept are
    short fixed IEEE sequences over exact operands — bit-identical across
    engines and partitionings.  The corpus collapses to the vocabulary in
    one map-side-combined shuffle; ranking the top_n head is a
    TakeOrderedAndProject, never a global sort of the tail."""
    from ..functions import text as _tx

    toks = _tx.tokens(text_col, d)
    if d == SPARK:
        tok_rows = f"select explode({toks}) as w from {table}"
    else:
        tok_rows = f"select unnest({toks}) as w from {table}"
    q = "cast(round(ln({}) * 1000000.0e0) as bigint)"
    return f"""
        with vocab as (
            select w, cast(count(*) as bigint) as freq
            from ({tok_rows}) tk group by w
        ),
        ranked as (
            select freq, row_number() over (order by freq desc, w asc) as rnk
            from vocab
        ),
        head as (
            select {q.format('cast(rnk as double)')} as qx,
                   {q.format('cast(freq as double)')} as qy
            from ranked where rnk <= {int(top_n)}
        ),
        moments as (
            select cast(count(*) as bigint) as n,
                   sum(qx) as sx, sum(qy) as sy,
                   sum(qx * qx) as sxx, sum(qx * qy) as sxy
            from head
        )
        select n,
               (cast(n * sxy - sx * sy as double)
                / cast(n * sxx - sx * sx as double)) as slope,
               ((cast(sy as double) - (cast(n * sxy - sx * sy as double)
                    / cast(n * sxx - sx * sx as double)) * cast(sx as double))
                / cast(n as double) / 1000000.0e0) as intercept_ln
        from moments
    """


def zipf_fit(docs: DataFrame, top_n: int = 200, text_col: str = "text") -> DataFrame:
    """Engine entry for zipf_fit_sql (see there)."""
    spark = docs.sparkSession
    docs.createOrReplaceTempView("__zipf_docs")
    return spark.sql(zipf_fit_sql(SPARK, "__zipf_docs", top_n=top_n, text_col=text_col))


# ---------------------------------------------------------------------------
# PMI co-occurrence (word-association mining over a bounded vocabulary)
# ---------------------------------------------------------------------------
def pmi_cooc_sql(d: str, table: str = "documents", top_v: int = 40,
                 min_pairs: int = 3) -> str:
    """Pointwise mutual information over document-level co-occurrence of the
    corpus's ``top_v`` most frequent terms:
    PMI(a,b) = ln(N·c_ab / (c_a·c_b)) with N = #docs, c_x = #docs containing
    x, c_ab = #docs containing both — quantized to bigint 1e-9 ln units (the
    classify.py discipline) so the fold is order-free.

    Scale: vocabulary is bounded (top_v, deterministic freq-desc/term-asc
    cut), so the per-doc kept-term list is <= top_v and the within-doc pair
    fan-out <= top_v²/2; corpus touched once for the vocab count and once
    for the pair explode; both aggregates map-side combine.  The marginal
    table is dimension-sized and joins back by term.

    PMI word-association mining over the top-40 vocabulary."""
    toks = tx.tokens("text", d)
    ex = (
        f"select doc_id, explode({toks}) as w from {table}"
        if d == SPARK
        else f"select doc_id, unnest({toks}) as w from {table}"
    )
    lnq = "cast(floor(ln({x}) * 1000000000.0e0 + 0.5e0) as bigint)"
    pmi = lnq.format(
        x="cast(n.n as double) * cast(p.c_ab as double)"
          " / (cast(ma.c as double) * cast(mb.c as double))"
    )
    return f"""
        with tok as (select distinct doc_id, w from ({ex}) e),
        freq as (select w, count(*) as c from tok group by w),
        vocab as (
            select w, c from (
                select w, c, row_number() over (order by c desc, w asc) as rn
                from freq
            ) t where rn <= {int(top_v)}
        ),
        kept as (select tok.doc_id, tok.w from tok join vocab on vocab.w = tok.w),
        n as (select count(distinct doc_id) as n from {table}),
        p as (
            select a.w as wa, b.w as wb, count(*) as c_ab
            from kept a join kept b on a.doc_id = b.doc_id and a.w < b.w
            group by a.w, b.w
        )
        select p.wa, p.wb, cast(p.c_ab as bigint) as c_ab,
               {pmi} as pmi_q9
        from p
        join vocab ma on ma.w = p.wa
        join vocab mb on mb.w = p.wb
        cross join n
        where p.c_ab >= {int(min_pairs)}"""


# ---------------------------------------------------------------------------
# BLEU-style clipped n-gram overlap scoring (pairwise)
# ---------------------------------------------------------------------------
def ngram_overlap_sql(d: str, table: str = "documents", n: int = 2) -> str:
    """Clipped n-gram precision between consecutive documents (doc i scored
    against doc i+1): matches = Σ_g min(count_a(g), count_b(g)) — the BLEU
    numerator (Papineni et al. 2002), the standard near-duplicate /
    eval-contamination overlap score.  Output is pure integers (matches,
    total) plus a q9-quantized precision, so the gate is bit-exact.

    Scale: n-grams count per doc (map-side combine), pairs join on
    (doc_id, gram) after an id-shift equi-join — no cross product; the
    pairing key generalizes to any candidate table (LSH buckets at corpus
    scale).

    BLEU-style clipped bigram precision between consecutive documents."""
    toks = tx.tokens("text", d)
    if d == SPARK:
        grams = (
            f"transform(sequence(1, size({toks}) - {n - 1}),"
            f" i -> concat_ws(' ', slice({toks}, i, {n})))"
        )
        ex = f"select doc_id, explode({grams}) as g from {table} where size({toks}) >= {n}"
    else:
        grams = (
            f"list_transform(generate_series(1, len({toks}) - {n - 1}),"
            f" i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
        )
        ex = f"select doc_id, unnest({grams}) as g from {table} where len({toks}) >= {n}"
    prec = (
        "cast(floor(cast(m as double) / cast(t as double)"
        " * 1000000000.0e0 + 0.5e0) as bigint)"
    )
    return f"""
        with gc as (select doc_id, g, count(*) as c from ({ex}) e group by doc_id, g),
        tot as (select doc_id, cast(sum(c) as bigint) as t from gc group by doc_id),
        m as (
            select a.doc_id as doc_a, b.doc_id as doc_b,
                   cast(sum(least(a.c, b.c)) as bigint) as m
            from gc a join gc b on b.doc_id = a.doc_id + 1 and b.g = a.g
            group by a.doc_id, b.doc_id
        )
        select m.doc_a, m.doc_b, m.m as clipped_matches, tot.t as total_ngrams_a,
               {prec} as precision_q9
        from m join tot on tot.doc_id = m.doc_a"""
