"""Text-corpus queries: exact and near-duplicate dedup, text statistics,
tokenizer and language-model features, data selection and quality
filters, corpus curation (splits, samples, shuffles, packing) and the
media spans of the interleaved fixture corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ...functions import text as tx
from ...functions.portable import DUCK, SPARK, concat_str, phash60, prand
from ...operators import (
    chunking, classify, contamination, curation, dedup, media, retrieval, sampling,
    simjoin, textstats,
)
from ...operators.dedup import _attach_cached
from ...operators.textstats import lang_id_expr, quality_score_expr
from ..convert_queries import FIXTURE_CORPUS
from .corpus import register_geometry_views, sql_query


# --- training-data operators over the shared documents/embeddings tables ---
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.exact_dedup(docs)


def q_dedup_exact_oracle() -> str:
    norm = dedup.normalize_expr("text", DUCK)
    return (
        f"select md5({norm}) as content_key, count(*) as n_dupes, "
        f"min(doc_id) as survivor_id from documents group by 1"
    )


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = dedup.minhash_signatures(docs, n_shingle=3, n_perm=16)
    return sigs.selectExpr("doc_id", "array_join(sig, ',') as sig_str")


def q_minhash_oracle() -> str:
    base = tx.shingle_base_hashes("text", 3, DUCK)
    sig = tx.minhash_from_base("mh_base", 16, DUCK)
    return (
        f"with staged as (select doc_id, {base} as mh_base from documents) "
        f"select doc_id, array_to_string({sig}, ',') as sig_str from staged"
    )


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.minhash_lsh_pairs(docs, n_perm=16, bands=4, jaccard_threshold=0.4)


def q_minhash_pairs_oracle() -> str:
    bh = tx.shingle_base_hashes("text", 3, DUCK)
    sig = tx.minhash_from_base("mh_base", 16, DUCK)
    return f"""
        with staged as (
            select doc_id, {bh} as mh_base from documents
        ),
        base as (
            select doc_id, {sig} as sig, list_distinct(mh_base) as shingles from staged
        ),
        banded as (
            select doc_id, shingles, b as band,
                   md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ',')) as bucket
            from base, unnest(generate_series(0, 3)) t(b)
        ),
        cand as (
            select distinct a.doc_id as doc_a, b.doc_id as doc_b,
                   a.shingles as sh_a, b.shingles as sh_b
            from banded a join banded b using (band, bucket)
            where a.doc_id < b.doc_id
        )
        select doc_a, doc_b,
               round(cast(len(list_intersect(sh_a, sh_b)) as double) /
                     cast(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)) as double), 6) as jaccard
        from cand
        where round(cast(len(list_intersect(sh_a, sh_b)) as double) /
                    cast(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)) as double), 6) >= 0.4
    """


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.selectExpr("doc_id", f"{tx.simhash64('text', SPARK)} as simhash")


def q_simhash_oracle() -> str:
    return f"select doc_id, {tx.simhash64('text', DUCK)} as simhash from documents"


def q_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.text_stats(docs)


def q_textstats_oracle() -> str:
    return textstats.text_stats_oracle_sql("documents")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, blocked by the `lang` column to
    bound the quadratic term per block (the 100 TB path: block key = lang or
    a coarse LSH band, never an unblocked self-join)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.ngram_jaccard_pairs(docs, n_shingle=3, threshold=0.4, prefilter_key="lang")


def q_ngram_jaccard_oracle() -> str:
    sh = tx.word_shingles("text", 3, DUCK)
    jac = (
        "cast(len(list_intersect(a.sh, b.sh)) as double) / "
        "nullif(cast(len(list_distinct(list_cat(a.sh, b.sh))) as double), 0.0e0)"
    )
    return f"""
        with base as (
            select doc_id, lang as blk, list_distinct({sh}) as sh from documents
        )
        select doc_a, doc_b, jaccard from (
            select a.doc_id as doc_a, b.doc_id as doc_b, round({jac}, 6) as jaccard
            from base a join base b on a.blk = b.blk and a.doc_id < b.doc_id
        ) where jaccard >= 0.4"""


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → dedup GROUPS: MinHash-LSH pairs fed through the
    alternating-star connected-components operator; component = min doc_id
    reachable.  The oracle replays reachability with a recursive CTE."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, n_perm=16, bands=4, jaccard_threshold=0.4)
    out = dedup.connected_components(pairs)  # eagerly checkpoints the edge set
    dedup.unpersist_intermediates(pairs)
    return out


def q_dedup_groups_oracle() -> str:
    pairs_sql = q_minhash_pairs_oracle()
    return f"""
        with recursive pairs as (select doc_a, doc_b from ({pairs_sql}) tp),
        edges as (
            select doc_a as a, doc_b as b from pairs
            union
            select doc_b as a, doc_a as b from pairs
        ),
        reach(v, l) as (
            select a, a from edges
            union
            select e.a, r.l from edges e join reach r on r.v = e.b
        )
        select v as doc_id, min(l) as component from reach group by v
    """


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment — every doc, hash-ranged."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sampling.assign_split(docs).select("doc_id", "split")


def q_corpus_split_oracle() -> str:
    return (
        f"select doc_id, {sampling.split_expr('doc_id', sampling.DEFAULT_SPLITS, DUCK)} "
        f"as split from documents"
    )


_STRATA_BANDS = "(CASE WHEN length(text) < 400 THEN 'short' WHEN length(text) < 800 THEN 'mid' ELSE 'long' END)"
_STRATA_FRACTIONS = {"short": 0.5, "mid": 0.2, "long": 0.05}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic Bernoulli sample (length bands)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    banded = docs.withColumn("band", F.expr(_STRATA_BANDS))
    return sampling.stratified_sample(banded, "band", _STRATA_FRACTIONS).select(
        "doc_id", "band"
    )


def q_stratified_sample_oracle() -> str:
    u = prand(concat_str(["'samp:'", "doc_id"], DUCK), DUCK)
    frac = (
        "(CASE band WHEN 'short' THEN 0.5e0 WHEN 'mid' THEN 0.2e0 ELSE 0.05e0 END)"
    )
    return f"""
        select doc_id, band from (
            select doc_id, {_STRATA_BANDS} as band from documents
        ) t where {u} < {frac}
    """


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-GATED slice of the multimodal pipeline: the mapInPandas decode
    stub derives every scalar (format/width/height/n_frames) from sha256 of
    the payload bytes, so a DuckDB SQL re-derivation is an exact independent
    oracle for the Arrow-batched Python path (features stay rows-only in
    media_pipeline — float32 numpy semantics are not SQL-expressible)."""
    corpus = spark.read.parquet(FIXTURE_CORPUS)
    feats = media.decode_media(media.extract_media_refs(corpus))
    frames = media.frame_sample(feats, every_n=2)
    return (
        feats.join(frames.groupBy("doc_id", "media_ref").count(), ["doc_id", "media_ref"])
        .selectExpr(
            "doc_id", "media_ref", "format", "width", "height", "n_frames",
            "cast(count as bigint) as n_sampled_frames",
        )
    )


def q_media_meta_oracle() -> str:
    byte = lambda i: f"cast(('0x' || substr(h, {2 * i + 1}, 2)) as int)"
    return f"""
        with m as (
            select doc_id, span.media_ref as media_ref,
                   sha256('blob:' || span.media_ref) as h
            from (select doc_id, unnest(spans) as span
                  from read_parquet('{FIXTURE_CORPUS}')) t
            where span.kind = 'media'
        )
        select doc_id, media_ref,
               (['stub_jpeg', 'stub_png', 'stub_webp'])[{byte(0)} % 3 + 1] as format,
               64 + ({byte(1)} % 16) * 32 as width,
               64 + ({byte(2)} % 16) * 32 as height,
               1 + {byte(3)} % 4 as n_frames,
               cast((1 + {byte(3)} % 4 + 1) // 2 as bigint) as n_sampled_frames
        from m
    """


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: media spans → binary payload → mapInPandas decode
    (deterministic stub; sha256-keyed fake features) → resize → frame sampling.
    Rows-only: the Arrow-batched decode has no SQL oracle, but every value it
    emits is a pure function of media_ref, so the output is deterministic."""
    corpus = spark.read.parquet(FIXTURE_CORPUS)
    refs = media.extract_media_refs(corpus)
    feats = media.resize_media(media.decode_media(refs), target_w=224, target_h=224)
    frames = media.frame_sample(feats, every_n=2)
    return (
        feats.join(frames.groupBy("doc_id", "media_ref").count(), ["doc_id", "media_ref"])
        .selectExpr(
            "doc_id", "media_ref", "format", "width", "height", "n_frames",
            "count as n_sampled_frames", "round(features[0], 6) as f0",
        )
    )


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: quality gate -> exact dedup -> near-dup
    group removal -> split assignment, one composed plan (operators/
    curation.py); the oracle replays every stage in one DuckDB query."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curation.curate_corpus(docs, quality_min=0.63)


def q_curate_corpus_oracle() -> str:
    return curation.curate_corpus_oracle_sql(quality_min=0.63)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Efraimidis-Spirakis weighted reservoir: top-20 docs per
    language by ln(u)/w key, w = n_chars — P(selection) proportional to doc
    length, zero RNG state, stable under any partitioning."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sampling.weighted_sample(
        docs, k=20, id_col="doc_id", weight_col="n_chars", stratum_col="lang"
    )


def q_weighted_sample_oracle() -> str:
    key = sampling.es_key_expr("doc_id", "n_chars", DUCK)
    return f"""
        select doc_id, lang, rank from (
            select doc_id, lang,
                   row_number() over (partition by lang order by {key} desc, doc_id) as rank
            from documents)
        where rank <= 20"""


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy hitters: top-10 tokens per language (map-side-combined
    term counts, window over the vocabulary not the corpus)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return retrieval.top_terms(docs, n=10)


def q_top_terms_oracle() -> str:
    return f"""
        select lang, term, n_occ, rank from (
            select lang, term, count(*) as n_occ,
                   row_number() over (partition by lang order by count(*) desc, term) as rank
            from (select lang, unnest({tx.tokens('text', DUCK)}) as term from documents)
            group by lang, term)
        where rank <= 10"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 10 != 0) flagged by
    4-gram overlap with the held-out eval slice (doc_id % 10 == 0); eval
    shingle-hash set is broadcast, the corpus is never shuffled by shingle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.where("doc_id % 10 <> 0")
    ev = docs.where("doc_id % 10 = 0")
    return contamination.decontaminate(train, ev, n_shingle=4)


def q_decontaminate_oracle() -> str:
    return contamination.decontaminate_oracle_sql(
        "doc_id % 10 <> 0", "doc_id % 10 = 0", n_shingle=4
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters: duplicate-2gram occurrence
    fraction and top-2gram character coverage per document."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.repetition_stats(docs, n=2)


def q_repetition_oracle() -> str:
    return textstats.repetition_stats_oracle_sql(n=2)


def q_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-preserving chunk packing of the interleaved text+media fixture
    corpus: budget-64 chunks, media spans cost 16, spans never split or
    reordered (operators.chunking)."""
    corpus = spark.read.parquet(FIXTURE_CORPUS)
    return chunking.chunk_documents(corpus, token_budget=64, media_token_cost=16)


def q_chunk_spans_oracle() -> str:
    return chunking.chunk_documents_oracle_sql(
        FIXTURE_CORPUS, token_budget=64, media_token_cost=16
    )


def q_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-document structure profiler — the input_hint's span
    invariants as an oracle-gated aggregate over the committed fixture
    corpus: per doc the span-kind counts, offset monotonicity violations,
    max offset gap, and the number of interleave RUNS (maximal same-kind
    stretches in span order) — the text/media interleaving signal a
    multimodal dataloader keys on."""
    spark.read.parquet(FIXTURE_CORPUS).createOrReplaceTempView("__span_docs")
    return spark.sql(_span_profile_sql(SPARK))


def _span_profile_sql(d: str) -> str:
    if d == SPARK:
        ex = (
            "select doc_id, pos, s.kind as kind, s.offset as off from "
            "(select doc_id, posexplode(spans) as (pos, s) from __span_docs) e"
        )
    else:
        ex = (
            "select doc_id, pos, span.kind as kind, span.\"offset\" as off "
            "from (select doc_id, generate_subscripts(spans, 1) - 1 as pos, "
            f"unnest(spans) as span from read_parquet('{FIXTURE_CORPUS}')) e"
        )
    return f"""
        with sp as ({ex}),
        lagged as (
            select doc_id, pos, kind, off,
                   lag(kind) over w as prev_kind,
                   lag(off) over w as prev_off
            from sp
            window w as (partition by doc_id order by pos asc)
        )
        select doc_id,
               cast(count(*) as bigint) as n_spans,
               cast(count(case when kind = 'text' then 1 end) as bigint) as n_text,
               cast(count(case when kind = 'media' then 1 end) as bigint) as n_media,
               cast(count(case when kind like 'osm%' then 1 end) as bigint) as n_osm,
               cast(count(case when prev_off is not null and off < prev_off
                          then 1 end) as bigint) as n_offset_inversions,
               cast(coalesce(max(case when prev_off is not null
                                 then off - prev_off end), 0) as bigint)
                   as max_offset_gap,
               cast(count(case when prev_kind is null or kind <> prev_kind
                          then 1 end) as bigint) as n_runs
        from lagged group by doc_id"""


def q_span_profile_oracle() -> str:
    return _span_profile_sql(DUCK)


def _pii_docs_sql(d: str) -> str:
    """Documents with deterministic synthetic PII appended (the shared
    corpus carries none): an email, an IPv4 from the doc_id bytes, and a
    phone-ish digit run — same text bytes on both engines."""
    return f"""
        select doc_id,
               concat(text, ' contact user', cast(doc_id as {'string' if d == SPARK else 'varchar'}),
                      '@example.com or 10.', cast(doc_id % 256 as {'string' if d == SPARK else 'varchar'}),
                      '.0.1 call +47 22 33 44 ', cast(10 + doc_id % 90 as {'string' if d == SPARK else 'varchar'})) as text
        from documents where doc_id % 3 <> 0
        union all
        select doc_id, text from documents where doc_id % 3 = 0"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a corpus with deterministic synthetic PII: typed
    placeholder redaction + per-doc counts, pure projection."""
    register_geometry_views(spark, sf_dir)
    docs = spark.sql(_pii_docs_sql(SPARK))
    return textstats.redact_pii(docs)


def q_redact_pii_oracle() -> str:
    return textstats.redact_pii_oracle_sql(table=f"({_pii_docs_sql(DUCK)})")


def _bpe_pairs_sql(d: str, top_n: int = 50) -> str:
    """First BPE merge step (tokenizer training prep): frequency of adjacent
    CHARACTER pairs inside words, weighted by word frequency — the statistic
    the merge rule argmaxes over.

    Shape: corpus explodes to tokens once, collapses to the VOCABULARY
    (distinct word → freq, map-side combined); pair enumeration then runs
    over the vocab (≪ corpus — the same trick as top_terms), one explode of
    len-1 positions per word; global top-n via ORDER BY + LIMIT ⇒
    TakeOrderedAndProject (per-partition top-n + driver merge), never a full
    sort.  Deterministic tiebreak (count desc, pair asc).

    Top-50 adjacent character pairs (BPE merge candidates), vocab-level
    counting, global top-k via TakeOrderedAndProject."""
    toks = tx.tokens("text", d)
    if d == SPARK:
        tok_rows = f"select explode({toks}) as w from documents"
        pair_rows = (
            "select substring(w, i, 2) as pair, freq from vocab "
            "lateral view explode(sequence(1, length(w) - 1)) t as i "
            "where length(w) >= 2"
        )
    else:
        tok_rows = f"select unnest({toks}) as w from documents"
        pair_rows = (
            "select substring(w, t.i, 2) as pair, freq from vocab "
            "cross join unnest(generate_series(1, length(w) - 1)) t(i) "
            "where length(w) >= 2"
        )
    return f"""
        with vocab as (
            select w, cast(count(*) as bigint) as freq
            from ({tok_rows}) tk group by w
        ),
        pairs as ({pair_rows})
        select pair, cast(sum(freq) as bigint) as pair_count
        from pairs group by pair
        order by pair_count desc, pair asc
        limit {top_n}"""


# ---------------------------------------------------------------------------
# token distribution drift (chi-squared per source)
# ---------------------------------------------------------------------------
def _token_drift_sql(d: str) -> str:
    """Chi-squared drift of each source's token distribution against the
    pooled corpus — the training-data monitoring staple (did a crawl slice
    shift vocabulary?).  Expected counts e = row_total·col_total/grand are
    pure +,*,/ (IEEE-deterministic both engines); each (o−e)²/e term is
    quantized to integer 1e-9 units BEFORE the sum, so the per-source total
    is order-free under any partitioning.  Shape: one token-explode scan,
    three tiny aggregates (sources, vocabulary, grand total), a sources ×
    vocab grid join — the grid is dimension-sized (prune vocabulary to
    global top-K first when |vocab| is corpus-scale), never corpus-sized."""
    ex = (
        f"explode({tx.tokens('text', SPARK)})"
        if d == SPARK
        else f"unnest({tx.tokens('text', DUCK)})"
    )
    return f"""
        with tok as (select source, {ex} as w from documents),
        counts as (select source, w, count(*) as c from tok group by source, w),
        rt as (select source, sum(c) as st from counts group by source),
        ct as (select w, sum(c) as cw from counts group by w),
        g as (select sum(c) as gt from counts),
        grid as (
            select rt.source, ct.w, coalesce(c.c, 0) as o,
                   cast(rt.st as double) * cast(ct.cw as double)
                       / cast(g.gt as double) as e
            from rt cross join ct cross join g
            left join counts c on c.source = rt.source and c.w = ct.w
        ),
        terms as (
            select source,
                   cast(floor((cast(o as double) - e) * (cast(o as double) - e)
                        / e * 1.0e9 + 0.5e0) as bigint) as tq
            from grid
        )
        select source, cast(sum(tq) as bigint) as chi2_q9, count(*) as n_cells
        from terms group by source"""


# ---------------------------------------------------------------------------
# sparse all-pairs cosine similarity join
# ---------------------------------------------------------------------------
def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All doc pairs with tf-cosine >= 4/5: norm prefix filter (rarest-first,
    integer (t/2)²-suffix bound) -> candidate equi-join on prefix terms ->
    exact integer verify (operators/simjoin.py).  The brute oracle proves
    the filter complete."""
    register_geometry_views(spark, sf_dir)
    return simjoin.cosine_pairs(
        spark.table("documents"), threshold_p=4, threshold_q=5
    ).selectExpr("doc_a", "doc_b", "dot", "round(cosine, 9) as cosine")


def q_cosine_pairs_oracle() -> str:
    base = simjoin.cosine_pairs_oracle_sql(4, 5)
    return f"select doc_a, doc_b, dot, round(cosine, 9) as cosine from ({base}) t"


# ---------------------------------------------------------------------------
# Cross-document line dedup (RefinedWeb-style boilerplate removal)
# ---------------------------------------------------------------------------
def _linify(text_col: str, width: int, d: str) -> str:
    """Deterministic line-structured corpus derived from the flat testdata
    text: whitespace tokens grouped `width` per line, lines joined by \\n.
    Same expression in both dialects, so the derived corpus is identical."""
    toks = tx.ws_tokens(text_col, d)
    if d == SPARK:
        n_lines = f"greatest(1, cast(ceil(size({toks}) / {width}.0e0) as int))"
        return (
            f"array_join(transform(sequence(1, {n_lines}), g -> "
            f"array_join(slice({toks}, (g - 1) * {width} + 1, {width}), ' ')), '\\n')"
        )
    n_lines = f"greatest(1, cast(ceil(len({toks}) / {width}.0) as int))"
    return (
        f"array_to_string(list_transform(generate_series(1, {n_lines}), g -> "
        f"array_to_string(({toks})[((g - 1) * {width} + 1):(g * {width})], ' ')), chr(10))"
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-line removal over the derived line corpus: any 4-token
    line seen in >= 3 distinct docs is stripped from every doc
    (textstats.line_dedup; hashes on the count shuffle, anti-join removal,
    order-carried reassembly)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id", f"{_linify('text', 4, SPARK)} as text"
    )
    return textstats.line_dedup(docs, min_docs=3)


def q_line_dedup_oracle() -> str:
    lined = f"(select doc_id, {_linify('text', 4, DUCK)} as text from documents)"
    return textstats.line_dedup_oracle_sql(
        min_docs=3, table=lined, id_col="doc_id", text_col="text"
    )


def _dup_spans_sql(d: str) -> str:
    """Exact substring dedup, span detection (Lee et al. 2022 shape): token
    runs covered by any 8-token window occurring >= 2 times corpus-wide;
    windows travel the count shuffle as 60-bit hashes, runs merged per doc
    via gaps-and-islands (dedup.dup_spans)."""
    return dedup.dup_spans_sql(d, "documents", min_len=8, min_count=2)


def _pack_sequences_sql(d: str) -> str:
    """Cross-document sequence packing: the corpus as one deterministic
    token stream cut at 512-token boundaries; hierarchical prefix sum
    (bucket totals take the only global window), scan-parallel fragment
    explode (chunking.pack_sequences)."""
    return chunking.pack_sequences_sql(d, "documents", capacity=512, bucket=64)


def _span_corruption_sql(d: str) -> str:
    """T5-style span corruption: one hash-placed 3-token mask per full
    24-token block, sentinel rewrite as a zero-shuffle HOF projection
    (chunking.span_corruption)."""
    return chunking.span_corruption_sql(d, "documents", block=24, span_len=3)


# ---------------------------------------------------------------------------
# DSIR importance weights (target-domain data selection)
# ---------------------------------------------------------------------------
def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR log importance ratios toward the lang='en' slice: hashed
    unigram+bigram models, quantized log-probs, exact integer per-doc fold
    (sampling.dsir_weights)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sampling.dsir_weights(docs, target_pred="lang = 'en'", n_buckets=256)


def q_dsir_oracle() -> str:
    return sampling.dsir_weights_oracle_sql(target_pred="lang = 'en'", n_buckets=256)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer trained AND applied in one plan: 6 unrolled merge
    rounds over the vocabulary (argmax pair as a scalar subquery, literal
    wrapped-symbol replace), output = post-merge subword vocabulary
    (textstats.bpe_encode)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.bpe_encode(docs, k_merges=6, top_n=100)


def q_bpe_encode_oracle() -> str:
    return textstats.bpe_encode_sql(DUCK, "documents", k_merges=6, top_n=100)


# ---------------------------------------------------------------------------
# Lexical diversity + geodesic zone stats
# ---------------------------------------------------------------------------
def q_lexdiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token entropy / TTR / hapax fraction per doc — quantized-ln integer
    folds (textstats.lexical_diversity)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.lexical_diversity(docs)


def q_lexdiv_oracle() -> str:
    return textstats.lexical_diversity_oracle_sql()


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order permutation: hash buckets +
    within-bucket ranks + broadcast prefix-sum offsets — never a global
    sort (sampling.corpus_shuffle)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sampling.corpus_shuffle(docs, n_buckets=64)


def q_corpus_shuffle_oracle() -> str:
    return sampling.corpus_shuffle_oracle_sql(n_buckets=64)


def q_media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup: 16-bit perceptual hash (sign bits of the decode
    stub's feature vector, integer-exact on the sha256 hex) + 4-band LSH
    candidate join + exact hamming verify (media.media_neardup_pairs).  The
    oracle is an INDEPENDENT brute all-pairs plan — agreement proves the
    banded candidate generator complete, upgrading the media feature path
    from rows-only to value-gated."""
    corpus = spark.read.parquet(FIXTURE_CORPUS)
    return media.media_neardup_pairs(corpus, max_hamming=3)


def q_media_phash_pairs_oracle() -> str:
    phash = media.phash_from_digest_sql("h", DUCK)
    return f"""
        with m as (
            select distinct span.media_ref as media_ref
            from (select unnest(spans) as span
                  from read_parquet('{FIXTURE_CORPUS}')) t
            where span.kind = 'media'
        ),
        ph as (
            select media_ref, {phash} as phash
            from (select media_ref, {media.phash_digest_sql('media_ref', DUCK)} as h from m)
        )
        select a.media_ref as ref_a, b.media_ref as ref_b,
               cast(bit_count(xor(a.phash, b.phash)) as int) as hamming
        from ph a join ph b on a.media_ref < b.media_ref
        where bit_count(xor(a.phash, b.phash)) <= 3
    """


def _temperature_mix_sql(d: str) -> str:
    """Temperature-flattened source mixture (T=2, target 50%): the
    multilingual-rebalancing sampling rule, deterministic by id hash
    (sampling.temperature_mix_sql; rates via sqrt so both engines round
    identically)."""
    return sampling.temperature_mix_sql(d, 2.0, 0.5)


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-quality evaluation, itself oracle-gated: recall of the
    MinHash-LSH pair finder against the EXACT PPJoin pair set at the same
    threshold, measured over the lang-blocked universe the exact operator
    covers (the LSH side also surfaces cross-lang pairs; they are outside
    the measured universe and reported in n_lsh_total).  Both pair sets are
    deterministic, so the metric is bit-exact."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lsh = dedup.minhash_lsh_pairs(docs, n_perm=16, bands=4, jaccard_threshold=0.4)
    ex = dedup.ngram_jaccard_pairs(docs, n_shingle=3, threshold=0.4, prefilter_key="lang")
    lsh_pairs = lsh.select("doc_a", "doc_b", F.lit(1).alias("hit"))
    joined = ex.select("doc_a", "doc_b").join(lsh_pairs, ["doc_a", "doc_b"], "left")
    out = joined.agg(
        F.count("*").cast("long").alias("n_exact"),
        F.count("hit").cast("long").alias("n_hit"),
        (F.count("hit").cast("double") / F.count("*").cast("double")).alias("recall"),
    ).crossJoin(lsh.groupBy().agg(F.count("*").cast("long").alias("n_lsh_total")))
    out._graft_cached = tuple(getattr(lsh, "_graft_cached", ())) + tuple(
        getattr(ex, "_graft_cached", ())
    )
    return out


def q_lsh_recall_oracle() -> str:
    return f"""
        with ex as ({q_ngram_jaccard_oracle()}),
        lsh as ({q_minhash_pairs_oracle()})
        select cast(count(*) as bigint) as n_exact,
               cast(count(lsh.doc_a) as bigint) as n_hit,
               (cast(count(lsh.doc_a) as double) / cast(count(*) as double)) as recall,
               (select cast(count(*) as bigint) from lsh) as n_lsh_total
        from ex left join lsh on ex.doc_a = lsh.doc_a and ex.doc_b = lsh.doc_b
    """


def _rendezvous_sql(d: str) -> str:
    """Consistent HRW shard assignment of the corpus to 5 shards
    (sampling.rendezvous_sql) — zero-shuffle projection."""
    return sampling.rendezvous_sql(d, [f"shard-{i}" for i in range(5)])


def _sn_blocking_sql(d: str, w: int = 3) -> str:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the OTHER
    classic entity-resolution candidate generator next to the engine's
    LSH/bucket blocking: sort the corpus by a normalized key and pair each
    record with its ``w`` successors.  Candidate count is exactly n·w-ish,
    independent of key-collision skew — the property that makes it the
    fallback when bucket keys are degenerate.

    The global sort is inherent to the method (ONE range-partitioned sort
    at scale; documented cost); pairs come from an offsets explode +
    integer equi-join on the rank — no range join, no window over pairs."""
    key = (
        "substring(regexp_replace(lower(text), '[^a-z]', ''), 1, 12)"
        if d == SPARK
        else "substring(regexp_replace(lower(text), '[^a-z]', '', 'g'), 1, 12)"
    )
    offs = (
        f"explode(sequence(1, {w}))" if d == SPARK
        else f"unnest(generate_series(1, {w}))"
    )
    return f"""
        with k as (
            select doc_id, {key} as blk_key from documents
        ),
        r as (
            select doc_id, blk_key,
                   cast(row_number() over (order by blk_key asc, doc_id asc)
                        as bigint) as rn
            from k
        ),
        offs as (select rn, doc_id, blk_key, {offs} as o from r)
        select a.doc_id as doc_a, b.doc_id as doc_b,
               cast(a.o as int) as window_dist,
               (a.blk_key = b.blk_key) as same_key
        from offs a join r b on b.rn = a.rn + a.o"""


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric set-containment pairs >= 9/10 — the near-superset dedup
    rule symmetric Jaccard misses (operators.simjoin.containment_pairs)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # caches attached via _attach_cached; the harness releases them post-collect
    return simjoin.containment_pairs(docs, threshold_p=9, threshold_q=10)


def q_containment_oracle() -> str:
    return simjoin.containment_pairs_oracle_sql(threshold_p=9, threshold_q=10)


def q_cosine_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cosine_pairs in its documented STANDALONE scale posture: the max_df
    guardrail ON (df > 100 terms — the stopword/boilerplate head that
    drives the Θ(Σ df²) fan-out — dropped before the postings self-join).
    Exact over the capped vocabulary; oracle applies the same cap.  The
    uncapped exact row stays in the registry as the LSH-shard verifier
    (SCALE.md posture); the bench times this row."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simjoin.cosine_pairs(docs, threshold_p=1, threshold_q=2, max_df=100)


def q_cosine_pairs_capped_oracle() -> str:
    return simjoin.cosine_pairs_oracle_sql(threshold_p=1, threshold_q=2, max_df=100)


def q_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """containment_pairs with the max_df guardrail ON (standalone scale
    posture; see q_cosine_pairs_capped)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simjoin.containment_pairs(docs, threshold_p=9, threshold_q=10, max_df=100)


def q_containment_capped_oracle() -> str:
    return simjoin.containment_pairs_oracle_sql(threshold_p=9, threshold_q=10, max_df=100)


def _lsh_band_stats_sql(d: str, threshold: float = 0.4) -> str:
    """LSH banding diagnostics — the tuning report the recall/precision
    evals stand on: candidate pairs emitted by the 4×4 banding, how many
    survive the exact Jaccard threshold (banding PRECISION — wasted verify
    work when low), and bucket occupancy (n_buckets, max bucket —
    quadratic blow-up risk when a bucket degenerates).  Same shingle/
    signature expressions as the gated minhash machinery, so the numbers
    describe the production operator, not a toy replica.

    Scale: the band self-join carries ONLY (doc_id, band, bucket) — never
    the shingle arrays — and dedups candidate pairs on ids alone; the
    arrays re-join from `base` on the (small) surviving pair set, the same
    candidate-shuffle discipline as the production operator
    (operators/dedup.py minhash_lsh_pairs)."""
    bh = tx.shingle_base_hashes("text", 3, d)
    sig = tx.minhash_from_base("mh_base", 16, d)
    if d == SPARK:
        dist = "array_distinct(mh_base)"
        bandex = (
            "explode(transform(sequence(0, 3), b -> named_struct('band', b,"
            " 'bucket', md5(concat_ws(',', slice(sig, b * 4 + 1, 4))))))"
        )
        band_src = "select doc_id, bb.band as band, bb.bucket as bucket from (select doc_id, {ex} as bb from base) e".format(ex=bandex)
        inter = "size(array_intersect(sh_a, sh_b))"
        sz = lambda x: f"size({x})"  # noqa: E731
    else:
        dist = "list_distinct(mh_base)"
        band_src = (
            "select doc_id, b as band,"
            " md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ','))"
            " as bucket from base, unnest(generate_series(0, 3)) t(b)"
        )
        inter = "len(list_intersect(sh_a, sh_b))"
        sz = lambda x: f"len({x})"  # noqa: E731
    jac = (
        f"(cast({inter} as double) /"
        f" cast({sz('sh_a')} + {sz('sh_b')} - {inter} as double))"
    )
    return f"""
        with staged as (
            select doc_id, {bh} as mh_base from documents
        ),
        base as (
            select doc_id, {sig} as sig, {dist} as shingles from staged
        ),
        banded as ({band_src}),
        buckets as (
            select band, bucket, cast(count(*) as bigint) as bsz
            from banded group by band, bucket
        ),
        cand as (
            select distinct a.doc_id as doc_a, b.doc_id as doc_b
            from banded a join banded b
              on a.band = b.band and a.bucket = b.bucket
             and a.doc_id < b.doc_id
        ),
        pairs as (
            select x.shingles as sh_a, y.shingles as sh_b
            from cand c
            join base x on x.doc_id = c.doc_a
            join base y on y.doc_id = c.doc_b
        ),
        scored as (
            select case when round({jac}, 6) >= {threshold!r}e0
                        then 1 else 0 end as hit
            from pairs
        ),
        cstats as (
            select cast(count(*) as bigint) as n_candidates,
                   cast(coalesce(sum(hit), 0) as bigint) as n_verified
            from scored
        ),
        bstats as (
            select cast(count(*) as bigint) as n_buckets,
                   cast(max(bsz) as bigint) as max_bucket
            from buckets
        )
        select c.n_candidates, c.n_verified,
               case when c.n_candidates = 0 then 0.0e0
                    else round(cast(c.n_verified as double)
                               / cast(c.n_candidates as double), 9)
               end as banding_precision,
               b.n_buckets, b.max_bucket
        from cstats c cross join bstats b"""


def q_lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame path (operators.dedup.lsh_band_stats): the persisted base
    keeps the shingle pipeline single-pass — the pure-SQL form is kept only
    as the DuckDB oracle (CollapseProject would re-inline it per
    permutation on the Spark side: 141 s vs 7 s at sf0.1)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.lsh_band_stats(docs, jaccard_threshold=0.4)


def q_lsh_band_stats_oracle() -> str:
    return _lsh_band_stats_sql(DUCK)


def _ks_drift_sql(d: str) -> str:
    """Two-sample Kolmogorov–Smirnov drift per source: D = max |ECDF_source
    − ECDF_corpus| over the n_chars distribution — the distribution-shift
    detector that catches what mean/variance drift misses (token_drift's
    χ² sibling for CONTINUOUS features).  Exact: ECDFs are integer
    cumulative counts over the distinct-value grid (per-source cum carried
    forward with max() over an ordered frame — counts are monotone), D one
    quantized max of integer-ratio differences.

    Scale: the grid is sources × distinct values (dimension-sized); the
    corpus is scanned once for the counts."""
    return """
        with q as (
            select source, cast(n_chars as bigint) as v from documents
        ),
        vals as (
            select v, cast(count(*) as bigint) as c from q group by v
        ),
        gcum as (
            select v, cast(sum(c) over (order by v asc
                                        rows between unbounded preceding
                                        and current row) as bigint) as g,
                   cast(sum(c) over () as bigint) as n
            from vals
        ),
        s as (
            select source, v, cast(count(*) as bigint) as c
            from q group by source, v
        ),
        ns as (select source, cast(sum(c) as bigint) as n_s from s group by source),
        grid as (
            select ns.source, gcum.v, gcum.g, gcum.n, ns.n_s,
                   cast(coalesce(max(sc.scum) over (
                       partition by ns.source order by gcum.v asc
                       rows between unbounded preceding and current row), 0)
                       as bigint) as s_cum
            from gcum
            cross join ns
            left join (
                select source, v,
                       cast(sum(c) over (partition by source order by v asc
                                         rows between unbounded preceding
                                         and current row) as bigint) as scum
                from s
            ) sc on sc.source = ns.source and sc.v = gcum.v
        )
        select source,
               max(n_s) as n_source,
               max(n) as n_corpus,
               max(cast(floor(abs(cast(s_cum as double) / cast(n_s as double)
                        - cast(g as double) / cast(n as double))
                        * 1000000000.0e0 + 0.5e0) as bigint)) as ks_d_q9
        from grid group by source"""


def _term_mi_sql(d: str, top_v: int = 30, top_k: int = 20) -> str:
    """Mutual information between term PRESENCE and document source, for
    the top-V vocabulary — the classic text-classification feature-
    relevance ranking (which words identify a source).  The 2×|sources|
    presence/absence contingency per term is exact integer counts; each
    MI cell term p·ln(p/(px·py)) is quantized to bigint 1e-9 BEFORE the
    per-term fold; the global top-k is a deterministic (mi desc, term asc)
    cut.

    Scale: one distinct (doc, term) scan for the vocabulary and the
    presence counts; the MI grid is top_v × sources × 2 — dimension-sized."""
    toks = tx.tokens("text", d)
    ex = (
        f"select doc_id, source, explode(array_distinct({toks})) as w from documents"
        if d == SPARK
        else f"select doc_id, source, unnest(list_distinct({toks})) as w from documents"
    )
    mi_term = (
        "cast(floor(cast(o as double) / cast(nd as double)"
        " * ln(cast(o as double) * cast(nd as double)"
        "      / (cast(rx as double) * cast(cy as double)))"
        " * 1.0e9 + 0.5e0) as bigint)"
    )
    return f"""
        with pres as (select distinct doc_id, source, w from ({ex}) e),
        freq as (select w, cast(count(*) as bigint) as dfr from pres group by w),
        vocab as (
            select w, dfr from (
                select w, dfr, row_number() over (order by dfr desc, w asc) as rn
                from freq
            ) t where rn <= {int(top_v)}
        ),
        nd as (select cast(count(distinct doc_id) as bigint) as nd from documents),
        srcs as (select source, cast(count(*) as bigint) as ns
                 from documents group by source),
        hit as (
            select p.w, p.source, cast(count(*) as bigint) as o
            from pres p join vocab on vocab.w = p.w
            group by p.w, p.source
        ),
        grid as (
            select vocab.w, srcs.source,
                   coalesce(hit.o, 0) as o_present,
                   srcs.ns - coalesce(hit.o, 0) as o_absent,
                   vocab.dfr as rx_present, srcs.ns as cy, nd.nd as nd
            from vocab cross join srcs cross join nd
            left join hit on hit.w = vocab.w and hit.source = srcs.source
        ),
        cells as (
            select w, source, o_present as o, rx_present as rx, cy, nd from grid
            union all
            select w, source, o_absent as o, nd - rx_present as rx, cy, nd from grid
        ),
        mi as (
            select w, cast(sum(case when o = 0 then 0 else {mi_term} end)
                           as bigint) as mi_q9
            from cells group by w
        )
        select w as term, mi_q9 from (
            select w, mi_q9,
                   row_number() over (order by mi_q9 desc, w asc) as rn
            from mi
        ) t where rn <= {int(top_k)}"""


def _zipf_fit_sql(d: str) -> str:
    """Zipf slope/intercept of the corpus term distribution, integer-exact
    OLS in log-log space (textstats.zipf_fit)."""
    return textstats.zipf_fit_sql(d, top_n=200)


def q_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup dedup: one survivor per LSH component, the
    highest-quality copy (operators.dedup.keep_best_dedup)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.keep_best_dedup(docs, n_perm=16, bands=4, jaccard_threshold=0.4)
    dedup.unpersist_intermediates(out)
    return out


def q_keep_best_oracle() -> str:
    pairs_sql = q_minhash_pairs_oracle()
    qexpr = quality_score_expr("text", DUCK)
    return f"""
        with recursive pairs as (select doc_a, doc_b from ({pairs_sql}) tp),
        edges as (
            select doc_a as a, doc_b as b from pairs
            union
            select doc_b as a, doc_a as b from pairs
        ),
        reach(v, l) as (
            select a, a from edges
            union
            select e.a, r.l from edges e join reach r on r.v = e.b
        ),
        comp as (select v as doc_id, min(l) as component from reach group by v),
        q as (
            select doc_id,
                   cast(floor(({qexpr}) * 1.0e6 + 0.5e0) as bigint) as quality_q6
            from documents
        ),
        lab as (
            select q.doc_id,
                   cast(coalesce(c.component, q.doc_id) as bigint) as grp,
                   q.quality_q6
            from q left join comp c on c.doc_id = q.doc_id
        )
        select doc_id, grp, quality_q6,
               (row_number() over (
                   partition by grp order by quality_q6 desc, doc_id asc
               ) = 1) as kept
        from lab"""


# ---------------------------------------------------------------------------
# Interleaved media-span context (nearest text spans in document order)
# ---------------------------------------------------------------------------
def _media_context_sql(d: str) -> str:
    """For every media span in the interleaved fixture corpus: the position
    and offset of the nearest PRECEDING and FOLLOWING text span in span
    order — the caption/alt-text pairing primitive a multimodal dataloader
    keys on (input_hint's spans column, per-doc order preserved).

    Prev/next positions come from two frame-bounded windows over the
    posexploded span table (carry pos only when kind='text'); offsets
    re-join the span table by (doc_id, pos) — no IGNORE NULLS dialect
    divergence.  Missing context coalesces to -1 (scalar non-null output).

    Scale: two windows partitioned by doc_id + two doc_id-keyed joins —
    everything shuffles once on doc_id; no cross-doc state."""
    if d == SPARK:
        ex = (
            "select doc_id, pos, s.kind as kind, s.offset as off from "
            "(select doc_id, posexplode(spans) as (pos, s) from __mc_docs) e"
        )
    else:
        ex = (
            'select doc_id, pos, span.kind as kind, span."offset" as off '
            "from (select doc_id, generate_subscripts(spans, 1) - 1 as pos, "
            f"unnest(spans) as span from read_parquet('{FIXTURE_CORPUS}')) e"
        )
    return f"""
        with sp as ({ex}),
        ctx as (
            select doc_id, pos, off,
                   max(case when kind = 'text' then pos end) over (
                       partition by doc_id order by pos asc
                       rows between unbounded preceding and 1 preceding
                   ) as prev_pos,
                   min(case when kind = 'text' then pos end) over (
                       partition by doc_id order by pos asc
                       rows between 1 following and unbounded following
                   ) as next_pos
            from sp
        ),
        media as (
            select c.doc_id, c.pos, c.off, c.prev_pos, c.next_pos
            from ctx c join sp s0
              on s0.doc_id = c.doc_id and s0.pos = c.pos
            where s0.kind = 'media'
        )
        select m.doc_id,
               cast(m.pos as bigint) as media_pos,
               cast(m.off as bigint) as media_off,
               cast(coalesce(m.prev_pos, -1) as bigint) as prev_text_pos,
               cast(coalesce(p.off, -1) as bigint) as prev_text_off,
               cast(coalesce(m.next_pos, -1) as bigint) as next_text_pos,
               cast(coalesce(n.off, -1) as bigint) as next_text_off
        from media m
        left join sp p on p.doc_id = m.doc_id and p.pos = m.prev_pos
        left join sp n on n.doc_id = m.doc_id and n.pos = m.next_pos"""


def q_media_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(FIXTURE_CORPUS).createOrReplaceTempView("__mc_docs")
    return spark.sql(_media_context_sql(SPARK))


def q_media_context_oracle() -> str:
    return _media_context_sql(DUCK)


# ---------------------------------------------------------------------------
# Feature-hashing (hashing-trick) document featurizer
# ---------------------------------------------------------------------------
def _feature_hash_sql(d: str, dim: int = 64) -> str:
    """Signed feature-hashing embedding (Weinberger et al. 2009): token t
    contributes sign(h'(t)) · tf to dimension h(t) mod ``dim`` — the
    vocabulary-free featurizer feeding linear models / nearest-neighbor
    search without a dictionary build.  Output long-form (doc_id, dim, w):
    pure integers, exactly partition-invariant (signed counts).

    Scale: one explode + one map-side-combined groupBy on (doc_id, dim) —
    single corpus pass, no joins."""
    toks = tx.tokens("text", d)
    unnest = (
        f"select doc_id, explode({toks}) as term from documents"
        if d == SPARK
        else f"select doc_id, unnest({toks}) as term from documents"
    )
    hj = phash60(concat_str(["'fh:'", "term"], d), d)
    hs = phash60(concat_str(["'fhs:'", "term"], d), d)
    return f"""
        with t as ({unnest}),
        hashed as (
            select doc_id,
                   cast(({hj}) % {dim} as bigint) as dim,
                   case when ({hs}) % 2 = 0 then 1 else -1 end as sgn
            from t
        )
        select doc_id, dim, cast(sum(sgn) as bigint) as w
        from hashed group by doc_id, dim"""


# ---------------------------------------------------------------------------
# SimHash blocked-Hamming near-dup pairs
# ---------------------------------------------------------------------------
def _simhash_body_sql(d: str, fps_src: str, max_ham: int = 3) -> str:
    """CTE body over a fingerprint table ``fps_src`` (doc_id, fp)."""
    if d == SPARK:
        blocks = f"select doc_id, fp, explode(sequence(0, 3)) as b from {fps_src}"
        ham = "bit_count(x.fp ^ y.fp)"
        shift = "shiftright(fp, cast(8 * b as int))"
    else:
        blocks = (
            f"select doc_id, fp, b from {fps_src},"
            " unnest(generate_series(0, 3)) t(b)"
        )
        ham = "bit_count(xor(x.fp, y.fp))"
        shift = "(cast(fp as bigint) // cast(power(2, 8 * b) as bigint))"
    return f"""blocked as (
            select doc_id, b, ({shift}) % 256 as bv
            from ({blocks}) e
        ),
        cand as (
            select distinct a.doc_id as doc_a, b.doc_id as doc_b
            from blocked a join blocked b
              on a.b = b.b and a.bv = b.bv and a.doc_id < b.doc_id
        ),
        verified as (
            select c.doc_a, c.doc_b, cast({ham} as bigint) as hamming
            from cand c
            join {fps_src} x on x.doc_id = c.doc_a
            join {fps_src} y on y.doc_id = c.doc_b
        )
        select doc_a, doc_b, hamming from verified
        where hamming <= {int(max_ham)}"""


def _simhash_pairs_sql(d: str, max_ham: int = 3) -> str:
    """Near-dup PAIRS under SimHash Hamming distance ≤ ``max_ham`` — the
    Manku/Google web-dedup join the equality-clustered simhash operator
    can't express (it only finds IDENTICAL fingerprints).  Blocked LSH:
    the 32-bit fingerprint splits into 4 byte blocks; distance ≤ 3 pigeon-
    holes at least one equal block, so a per-block equi-join is a COMPLETE
    candidate generator; verify is one integer bit_count(xor) compare.

    Scale: candidates carry only (doc_id, block, value); Θ(Σ bucket²) on
    byte-block buckets (the minhash band-join discipline).  The Spark
    path persists the fingerprint table — inlined, the simhash vote
    expression recomputes per CTE reference (measured 28.6 s vs 3 s at
    sf0.1, the lsh_band_stats trap)."""
    fp = tx.simhash64("text", d)
    return (
        f"with fps as (select doc_id, cast({fp} as bigint) as fp"
        f" from documents), "
        + _simhash_body_sql(d, "fps", max_ham)
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_geometry_views(spark, sf_dir)
    fp = tx.simhash64("text", SPARK)
    par = 4 * int(spark.sparkContext.defaultParallelism)
    # repartition BEFORE the vote expression: the corpus arrives as few
    # parquet splits and the per-doc fingerprint is compute-bound (~2 ms/
    # doc of HOF evaluation) — on one partition the cache materialization
    # serializes (measured 14 s at sf0.1; spread: <1 s).  Materialize
    # eagerly so the self-join's two scan branches share the cache.
    fps = (
        spark.table("documents")
        .repartition(par)
        .selectExpr("doc_id", f"cast({fp} as bigint) as fp")
        .persist()
    )
    fps.count()
    fps.createOrReplaceTempView("__sh_fps")
    out = spark.sql("with " + _simhash_body_sql(SPARK, "__sh_fps"))
    return _attach_cached(out, [fps])


def q_simhash_pairs_oracle() -> str:
    return _simhash_pairs_sql(DUCK)


# ---------------------------------------------------------------------------
# Vocabulary richness: Chao1 + Good–Turing unseen mass per source
# ---------------------------------------------------------------------------
def _vocab_richness_sql(d: str) -> str:
    """How much vocabulary a source HASN'T shown yet — the
    sample-coverage question a corpus-curation pipeline asks before
    deciding it has "enough" of a source: Chao1 richness D + f1²/(2·f2)
    (lower bound on total types; bias-corrected f1(f1−1)/(2(f2+1)) when
    f2=0) and the Good–Turing unseen probability mass p0 = f1/N.

    Exactness: f1/f2/D/N are integer counts; the two estimates are one
    final double expression each, quantized.

    Scale: (source, term) counts → frequency-of-frequency counts — two
    map-side-combined groupBys, dimension-sized output."""
    toks = tx.tokens("text", d)
    unnest = (
        f"select source, explode({toks}) as term from documents"
        if d == SPARK
        else f"select source, unnest({toks}) as term from documents"
    )
    return f"""
        with t as ({unnest}),
        tf as (select source, term, cast(count(*) as bigint) as c
               from t group by source, term),
        fof as (
            select source,
                   cast(count(*) as bigint) as d_obs,
                   cast(sum(c) as bigint) as n_tokens,
                   cast(sum(case when c = 1 then 1 else 0 end) as bigint) as f1,
                   cast(sum(case when c = 2 then 1 else 0 end) as bigint) as f2
            from tf group by source
        )
        select source, d_obs, n_tokens, f1, f2,
               cast(floor((cast(d_obs as double)
                    + case when f2 > 0
                           then cast(f1 as double) * cast(f1 as double)
                                / (2.0e0 * cast(f2 as double))
                           else cast(f1 as double) * cast(f1 - 1 as double)
                                / (2.0e0 * cast(f2 + 1 as double)) end)
                    * 1000000.0e0 + 0.5e0) as bigint) as chao1_q6,
               cast(floor(cast(f1 as double) / cast(n_tokens as double)
                    * 1000000000.0e0 + 0.5e0) as bigint) as gt_unseen_q9
        from fof"""


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (near-dup groups stay on one side)
# ---------------------------------------------------------------------------
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic split keyed on the near-dup COMPONENT representative
    instead of the doc's own id: every member of a MinHash-LSH duplicate
    group lands on the same side, so train never leaks a near-copy of a
    val/test doc — the split discipline a contamination audit assumes.
    Singleton docs hash exactly as in corpus_split (same salt), so
    adopting the leakage-safe split only moves grouped docs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, n_perm=16, bands=4, jaccard_threshold=0.4)
    comp = dedup.connected_components(pairs)  # eagerly checkpoints the edges
    dedup.unpersist_intermediates(pairs)
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .selectExpr("doc_id", "coalesce(component, doc_id) as group_key")
        .withColumn(
            "split",
            F.expr(sampling.split_expr("group_key", sampling.DEFAULT_SPLITS, SPARK)),
        )
    )


def q_leakage_safe_split_oracle() -> str:
    comp = q_dedup_groups_oracle()
    return f"""
        select doc_id, group_key,
               {sampling.split_expr("group_key", sampling.DEFAULT_SPLITS, DUCK)} as split
        from (
            select d.doc_id, coalesce(c.component, d.doc_id) as group_key
            from documents d
            left join ({comp}) c on c.doc_id = d.doc_id
        ) g"""


# ---------------------------------------------------------------------------
# Content-defined chunking (FastCDC-style) + sub-document dedup stats
# ---------------------------------------------------------------------------
_CDC_W = 16      # local hash window (chars)
_CDC_MASK = 64   # boundary iff window-hash % mask == 0 (expected chunk ~64)


def _cdc_chunks_sql(d: str) -> str:
    """Content-defined chunk boundaries per document: a position ends a
    chunk iff the portable hash of the LAST 16 characters is ≡ 0 mod 64 —
    boundaries depend only on a local window, so an insertion re-chunks
    only its neighbourhood (the CDC property fixed-window span dedup
    lacks), and identical passages align to identical chunks across
    documents.  Output: one corpus row (n_chunks, n_distinct,
    n_cross_doc, mean_len) — the sub-document duplication report.

    Exactness: boundary decisions and chunk ids are the portable md5 hash;
    lengths are ints; ONE rounded division for mean_len.

    Scale: per-doc HOFs (one md5 per character position — scan-parallel,
    no joins); the chunk table aggregates map-side; cross-doc dup is a
    chunk-hash-keyed count-distinct, dimension-sized."""
    n = "length(text)"
    win_h = phash60(f"substring(text, i - {_CDC_W - 1}, {_CDC_W})", d)
    chunk_h = phash60("substring(text, element_at(cuts, cast(k as int)) + 1, "
                      "element_at(cuts, cast(k + 1 as int)) - element_at(cuts, cast(k as int)))", d) \
        if d == SPARK else phash60("substring(text, cuts[k] + 1, cuts[k + 1] - cuts[k])", d)
    if d == SPARK:
        empty = "slice(sequence(cast(0 as bigint), cast(0 as bigint)), 1, 0)"
        bnd = (f"if({n} >= {_CDC_W}, "
               f"filter(sequence(cast({_CDC_W} as bigint), cast({n} as bigint)), "
               f"i -> {win_h} % {_CDC_MASK} = 0), {empty})")
        cuts = (f"concat(array(cast(0 as bigint)), {bnd}, "
                f"array(cast({n} as bigint)))")
        chunks = (
            f"filter(transform(sequence(1, size(cuts) - 1), k -> named_struct("
            f"'len', element_at(cuts, cast(k + 1 as int)) - element_at(cuts, cast(k as int)), "
            f"'h', {chunk_h})), c -> c.len > 0)"
        )
        doc = (f"select doc_id, explode({chunks}) as c from "
               f"(select doc_id, text, {cuts} as cuts from documents)")
    else:
        bnd = (f"list_filter(generate_series({_CDC_W}, {n}), "
               f"i -> {win_h} % {_CDC_MASK} = 0)")
        cuts = f"([cast(0 as bigint)] || {bnd} || [cast({n} as bigint)])"
        chunks = (
            f"list_filter(list_transform(generate_series(1, len(cuts) - 1), "
            f"k -> struct_pack(len := cuts[k + 1] - cuts[k], h := {chunk_h})), "
            f"c -> c.len > 0)"
        )
        doc = (f"select doc_id, unnest({chunks}) as c from "
               f"(select doc_id, text, {cuts} as cuts from documents)")
    hh = "c.h" if d == SPARK else "c['h']"
    ll = "c.len" if d == SPARK else "c['len']"
    return f"""
        with ch as (select doc_id, {hh} as h, {ll} as len from ({doc}) t),
        cross_doc as (
            select h from ch group by h having count(distinct doc_id) > 1
        )
        select cast(count(*) as bigint) as n_chunks,
               cast(count(distinct h) as bigint) as n_distinct,
               (select cast(count(*) as bigint) from cross_doc) as n_cross_doc,
               round(cast(sum(len) as double) / cast(count(*) as double), 6)
                   as mean_len
        from ch"""


_CDC_MAX_DF = 50   # postings guardrail: drop chunk hashes in > max_df docs
_CDC_MIN_SHARED = 2


def _cdc_pairs_sql(d: str) -> str:
    """Document pairs sharing ≥ 2 content-defined chunks — the EXACT
    shared-passage pair finder (a quote or boilerplate block shared by two
    docs aligns to identical chunks regardless of position).  Complements
    the similarity family: MinHash finds high-overlap docs, this finds
    specific copied passages at any overall similarity.

    Scale: postings self-join keyed on chunk hash with the containment
    guardrail (df ≤ 50 — drop boilerplate chunks every doc shares);
    pair fan-out Θ(Σ df²) over the FILTERED postings."""
    doc_sql = _cdc_chunks_sql(d)
    # reuse only the chunk explode (everything before the final agg)
    body = doc_sql.split("with ch as (", 1)[1].split("),\n        cross_doc", 1)[0]
    return f"""
        with raw as ({body}),
        ch as (select distinct doc_id, h from raw),
        keep as (
            select h from ch group by h
            having count(*) <= {_CDC_MAX_DF}
        ),
        p as (
            select a.doc_id as doc_a, b.doc_id as doc_b,
                   cast(count(*) as bigint) as n_shared
            from ch a
            join keep k on k.h = a.h
            join ch b on b.h = a.h and a.doc_id < b.doc_id
            group by a.doc_id, b.doc_id
        )
        select doc_a, doc_b, n_shared from p
        where n_shared >= {_CDC_MIN_SHARED}"""


# ---------------------------------------------------------------------------
# RAKE keyphrases (Rose et al. 2010, exact integer scoring)
# ---------------------------------------------------------------------------
_RAKE_TOPK = 3
_RAKE_STOP = ["the", "and", "of", "to", "in", "is", "that", "it", "for",
              "with", "a"]


def _rake_sql(d: str) -> str:
    """Top-3 RAKE keyphrases per document: candidate phrases are maximal
    stopword-free token runs; word score = deg(w)/freq(w) where deg sums
    the lengths of phrases containing w; phrase score sums its words'
    scores.  The division is floored at integer 1e-6 per word
    ((deg·10⁶) div freq — exact integer), so phrase scores fold as exact
    bigints; ties broken by phrase text.

    Scale: one posexplode + one doc-keyed window (phrase segmentation),
    two doc-keyed aggregates (word stats, phrase fold), one top-k window
    — everything partitions by doc_id; the corpus-wide shuffle count is
    three, all map-side-combinable."""
    stop = ", ".join(f"'{w}'" for w in _RAKE_STOP)
    if d == SPARK:
        toks = (
            "select doc_id, pos, tok from (select doc_id, "
            "posexplode(filter(split(lower(text), '[^a-z0-9]+'), "
            "t -> t <> '')) as (pos, tok) from documents)"
        )
        phrase_txt = (
            "array_join(transform(array_sort(collect_list("
            "struct(p.pos, p.tok))), x -> x.tok), ' ')"
        )
        stop_set = f"array({stop})"
        is_stop = f"array_contains({stop_set}, tok)"
    else:
        toks = (
            "select doc_id, t.i - 1 as pos, arr[t.i] as tok from "
            "(select doc_id, list_filter(string_split_regex(lower(text), "
            "'[^a-z0-9]+'), t -> t <> '') as arr from documents) a, "
            "unnest(generate_series(1, len(arr))) t(i)"
        )
        is_stop = f"list_contains([{stop}], tok)"
        phrase_txt = "string_agg(p.tok, ' ' order by p.pos)"
    return f"""
        with toks as ({toks}),
        seg as (
            select doc_id, pos, tok, {is_stop} as stop,
                   sum(case when {is_stop} then 1 else 0 end)
                       over (partition by doc_id order by pos
                             rows unbounded preceding) as phrase_id
            from toks
        ),
        pw as (
            select doc_id, phrase_id, pos, tok,
                   count(*) over (partition by doc_id, phrase_id)
                       as phrase_len
            from seg where not stop
        ),
        wstat as (
            select doc_id, tok,
                   cast(count(*) as bigint) as freq,
                   cast(sum(phrase_len) as bigint) as deg
            from pw group by doc_id, tok
        ),
        pscore as (
            select p.doc_id, p.phrase_id,
                   {phrase_txt} as phrase,
                   cast(sum((w.deg * 1000000) {"div" if d == SPARK else "//"}
                        w.freq) as bigint) as score_q6
            from pw p
            join wstat w on w.doc_id = p.doc_id and w.tok = p.tok
            group by p.doc_id, p.phrase_id
        ),
        ranked as (
            select doc_id, phrase, score_q6,
                   row_number() over (
                       partition by doc_id
                       order by score_q6 desc, phrase asc) as rk
            from pscore
        )
        select doc_id, cast(rk as bigint) as rk, phrase, score_q6
        from ranked where rk <= {_RAKE_TOPK}"""


# ---------------------------------------------------------------------------
# Corpus novelty curve (shingle first-occurrence by ingestion order)
# ---------------------------------------------------------------------------
_NV_SHINGLE = 5


def _novelty_sql(d: str) -> str:
    """Per document (in doc_id ingestion order): how many of its 5-gram
    word shingles appear here for the FIRST time in the corpus — the
    novelty curve dataset curators watch to decide when a source is
    mined out (marginal novel-shingle yield under exact substring
    dedup).  A shingle's owner is its minimum doc_id; novelty =
    owned-shingles / distinct-shingles, as exact integers.

    Scale: one shingle explode (scan-parallel), one shingle-keyed
    min-aggregate (map-side-combined — the exact-dedup shuffle), one
    doc-keyed count join back; novelty never needs pairwise comparison."""
    if d == SPARK:
        toks = (
            "select doc_id, posexplode(filter(split(lower(text), "
            "'[^a-z0-9]+'), t -> t <> '')) as (pos, tok) from documents"
        )
        sh = (
            "select doc_id, pos, concat_ws(' ', tok, "
            + ", ".join(
                f"lead(tok, {k}) over (partition by doc_id order by pos)"
                for k in range(1, _NV_SHINGLE)
            )
            + ") as shingle, "
            + f"lead(tok, {_NV_SHINGLE - 1}) over (partition by doc_id "
            "order by pos) as last_tok from toks"
        )
    else:
        toks = (
            "select doc_id, t.i - 1 as pos, arr[t.i] as tok from "
            "(select doc_id, list_filter(string_split_regex(lower(text), "
            "'[^a-z0-9]+'), t -> t <> '') as arr from documents) a, "
            "unnest(generate_series(1, len(arr))) t(i)"
        )
        sh = (
            "select doc_id, pos, concat_ws(' ', tok, "
            + ", ".join(
                f"lead(tok, {k}) over (partition by doc_id order by pos)"
                for k in range(1, _NV_SHINGLE)
            )
            + ") as shingle, "
            + f"lead(tok, {_NV_SHINGLE - 1}) over (partition by doc_id "
            "order by pos) as last_tok from toks"
        )
    return f"""
        with toks as ({toks}),
        sh as ({sh}),
        shing as (
            select distinct doc_id, shingle from sh where last_tok is not null
        ),
        owner as (
            select shingle, cast(min(doc_id) as bigint) as owner_doc
            from shing group by shingle
        )
        select s.doc_id,
               cast(count(*) as bigint) as n_shingles,
               cast(sum(case when o.owner_doc = s.doc_id then 1 else 0 end)
                    as bigint) as n_novel,
               cast((sum(case when o.owner_doc = s.doc_id then 1 else 0 end)
                     * 1000000) {"div" if d == SPARK else "//"} count(*)
                    as bigint) as novelty_q6
        from shing s join owner o on o.shingle = s.shingle
        group by s.doc_id"""


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (classifier eval vs gold labels)
# ---------------------------------------------------------------------------
def _langid_confusion_sql(d: str) -> str:
    """Confusion matrix of the gated `nb_langid` stopword classifier
    against the corpus's gold ``lang`` column, with per-cell counts and
    the per-true-language recall — the eval that closes the classifier
    loop (predictions alone say nothing without gold confusion).

    Exactness: counts are exact integers; recall is the cross-multiplied
    integer pair (hits, total) plus one rounded division.

    Scale: the classifier is a scan projection (broadcast stopword
    arrays); the confusion aggregate is a tiny (true, pred) group."""
    pred = lang_id_expr("text", d)
    return f"""
        with scored as (
            select lang as true_lang, ({pred}) as pred_lang from documents
        ),
        conf as (
            select true_lang, pred_lang, cast(count(*) as bigint) as n
            from scored group by true_lang, pred_lang
        ),
        tot as (
            select true_lang, cast(sum(n) as bigint) as n_true
            from conf group by true_lang
        )
        select c.true_lang, c.pred_lang, c.n, t.n_true,
               round(cast(c.n as double) / cast(t.n_true as double), 9)
                   as frac_of_true
        from conf c join tot t on t.true_lang = c.true_lang"""


QUERIES = {
    "dedup_exact": (q_dedup_exact, q_dedup_exact_oracle),
    "minhash_signatures": (q_minhash, q_minhash_oracle),
    "minhash_lsh_pairs": (q_minhash_pairs, q_minhash_pairs_oracle),
    "simhash": (q_simhash, q_simhash_oracle),
    "textstats": (q_textstats, q_textstats_oracle),
    "ngram_jaccard": (q_ngram_jaccard, q_ngram_jaccard_oracle),
    "dedup_groups": (q_dedup_groups, q_dedup_groups_oracle),
    "media_meta": (q_media_meta, q_media_meta_oracle),
    "corpus_split": (q_corpus_split, q_corpus_split_oracle),
    "stratified_sample": (q_stratified_sample, q_stratified_sample_oracle),
    "curate_corpus": (q_curate_corpus, q_curate_corpus_oracle),
    "weighted_sample": (q_weighted_sample, q_weighted_sample_oracle),
    "top_terms": (q_top_terms, q_top_terms_oracle),
    "decontaminate": (q_decontaminate, q_decontaminate_oracle),
    "repetition": (q_repetition, q_repetition_oracle),
    "chunk_spans": (q_chunk_spans, q_chunk_spans_oracle),
    "span_profile": (q_span_profile, q_span_profile_oracle),
    "redact_pii": (q_redact_pii, q_redact_pii_oracle),
    "bpe_pairs": sql_query(_bpe_pairs_sql),
    "token_drift": sql_query(_token_drift_sql),
    "nb_langid": sql_query(classify.nb_langid_sql),
    "cosine_pairs": (q_cosine_pairs, q_cosine_pairs_oracle),
    "line_dedup": (q_line_dedup, q_line_dedup_oracle),
    "dup_spans": sql_query(_dup_spans_sql),
    "pack_sequences": sql_query(_pack_sequences_sql),
    "span_corruption": sql_query(_span_corruption_sql),
    "dsir": (q_dsir, q_dsir_oracle),
    "lm_score": sql_query(classify.ngram_lm_sql),
    "bpe_encode": (q_bpe_encode, q_bpe_encode_oracle),
    "lexdiv": (q_lexdiv, q_lexdiv_oracle),
    "corpus_shuffle": (q_corpus_shuffle, q_corpus_shuffle_oracle),
    "media_phash_pairs": (q_media_phash_pairs, q_media_phash_pairs_oracle),
    "temperature_mix": sql_query(_temperature_mix_sql),
    "lsh_recall": (q_lsh_recall, q_lsh_recall_oracle),
    "rendezvous": sql_query(_rendezvous_sql),
    "sn_blocking": sql_query(_sn_blocking_sql),
    "containment": (q_containment, q_containment_oracle),
    "cosine_pairs_capped": (q_cosine_pairs_capped, q_cosine_pairs_capped_oracle),
    "containment_capped": (q_containment_capped, q_containment_capped_oracle),
    "lsh_band_stats": (q_lsh_band_stats, q_lsh_band_stats_oracle),
    "ks_drift": sql_query(_ks_drift_sql),
    "term_mi": sql_query(_term_mi_sql),
    "zipf_fit": sql_query(_zipf_fit_sql),
    "pmi_cooc": sql_query(textstats.pmi_cooc_sql),
    "ngram_overlap": sql_query(textstats.ngram_overlap_sql),
    "keep_best": (q_keep_best, q_keep_best_oracle),
    "media_context": (q_media_context, q_media_context_oracle),
    "feature_hash": sql_query(_feature_hash_sql),
    "vocab_richness": sql_query(_vocab_richness_sql),
    "simhash_pairs": (q_simhash_pairs, q_simhash_pairs_oracle),
    "leakage_safe_split": (q_leakage_safe_split, q_leakage_safe_split_oracle),
    "cdc_chunks": sql_query(_cdc_chunks_sql),
    "cdc_dedup_pairs": sql_query(_cdc_pairs_sql),
    "rake_keyphrases": sql_query(_rake_sql),
    "novelty_curve": sql_query(_novelty_sql),
    "langid_confusion": sql_query(_langid_confusion_sql),
}
