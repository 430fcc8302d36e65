"""Distributed Naive Bayes language classifier (char trigrams), train + apply.

The supervised sibling of the heuristic lang-ID in textstats: train
multinomial NB on the labeled 80% split of the corpus, classify the held-out
20%.  This is the counts-shaped classifier a data pipeline can actually run
at 10^12 docs — training IS one groupBy, the model IS a table.

Exactness discipline (what makes an ML op value-hash-gateable here): all
log-probabilities are quantized to bigint 1e-9 units (``floor(ln(p)*1e9)``)
the moment they are computed, so every per-document score is an exact
integer fold — associative, commutative, partition-invariant — and the
argmax is a deterministic struct-max (score, then lang as tiebreak).  ``ln``
agrees bit-for-bit between Spark and DuckDB on this host (already load-bearing
in the weighted-reservoir sampler); floor-quantization makes any sub-ulp
disagreement a measure-zero event rather than a silent drift.

Scale design:
* Train: explode trigrams once; (lang, gram) counts and per-lang totals are
  map-side-combined aggregates.  The model (vocab × 5 langs) is ~10^5 rows —
  a broadcast dimension, never a shuffle of the corpus.
* Apply: per-doc gram tf (one groupBy), inner join to the vocab (drops OOV
  grams identically in both engines), cross the tiny lang dimension, left
  join the model, one keyed sum per (doc, lang), struct-max per doc.
  The corpus is shuffled only on doc_id — grams never leave the map side
  except as (doc, gram, tf).

Docs with no in-vocab grams (or text shorter than one trigram) drop out —
the same rows drop in both engines.
"""

from __future__ import annotations

from ..functions.portable import SPARK

N_GRAM = 3
Q = 1_000_000_000  # log-prob quantization: 1e-9 units


def _grams(t: str, d: str) -> str:
    """Array of char trigrams of ``t`` (already lowercased); empty if short."""
    if d == SPARK:
        seq = f"sequence(1, length({t}) - {N_GRAM - 1})"
        arr = f"transform({seq}, i -> substr({t}, i, {N_GRAM}))"
        empty = "array()"
    else:
        seq = f"generate_series(1, length({t}) - {N_GRAM - 1})"
        arr = f"list_transform({seq}, i -> substr({t}, i, {N_GRAM}))"
        empty = "[]"
    return f"(case when length({t}) >= {N_GRAM} then {arr} else {empty} end)"


def nb_langid_sql(d: str, train_mod: int = 10, train_lt: int = 8) -> str:
    """Full train+apply SQL (docs with doc_id % train_mod < train_lt train
    the model; the rest are classified).  Returns (doc_id, pred_lang,
    true_lang, correct, score_q) for the held-out split.

    Multinomial NB over char trigrams: train on the 80% split, classify the
    held-out 20%.  Integer-quantized log-probs make every score an exact
    fold and the argmax deterministic."""
    if d == SPARK:
        ex = lambda cols, g: f"select {cols}, explode({g}) as g"  # noqa: E731
        smax = "max(named_struct('s', score_q, 'l', lang))"
    else:
        ex = lambda cols, g: f"select {cols}, unnest({g}) as g"  # noqa: E731
        smax = "max(struct_pack(s := score_q, l := lang))"
    lnq = lambda x: f"cast(floor(ln({x}) * {Q}.0e0) as bigint)"  # noqa: E731
    return f"""
        with docs as (
            select doc_id, lower(text) as t, lang from documents
        ),
        tr as (select * from docs where doc_id % {train_mod} < {train_lt}),
        ap as (select * from docs where doc_id % {train_mod} >= {train_lt}),
        tg as ({ex("lang", _grams("t", d))} from tr),
        cnt as (select lang, g, count(*) as c from tg group by lang, g),
        tot as (select lang, count(*) as tot from tg group by lang),
        vocab as (select distinct g from tg),
        vsize as (select count(*) as v from vocab),
        langs as (select lang, count(*) as n_docs from tr group by lang),
        ntr as (select count(*) as n from tr),
        lp as (
            select cnt.lang, cnt.g,
                   {lnq("(c + 1.0e0) / (tot + v)")} as lp_q
            from cnt join tot on cnt.lang = tot.lang cross join vsize
        ),
        unseen as (
            select lang, {lnq("1.0e0 / (tot + v)")} as lp0_q
            from tot cross join vsize
        ),
        prior as (
            select lang, {lnq("n_docs * 1.0e0 / n")} as pr_q
            from langs cross join ntr
        ),
        ag as (
            select doc_id, g, count(*) as tf from (
                {ex("doc_id", _grams("t", d))} from ap
            ) e group by doc_id, g
        ),
        agv as (select ag.doc_id, ag.g, ag.tf from ag join vocab on ag.g = vocab.g),
        scored as (
            select agv.doc_id, u.lang,
                   cast(sum(agv.tf * coalesce(lp.lp_q, u.lp0_q)) as bigint) as dot_q
            from agv
            cross join unseen u
            left join lp on lp.lang = u.lang and lp.g = agv.g
            group by agv.doc_id, u.lang
        ),
        fin as (
            select s.doc_id, s.lang, cast(s.dot_q + p.pr_q as bigint) as score_q
            from scored s join prior p on s.lang = p.lang
        ),
        pred as (
            select doc_id, {smax} as m from fin group by doc_id
        )
        select pred.doc_id,
               (m).l as pred_lang,
               ap.lang as true_lang,
               (m).l = ap.lang as correct,
               (m).s as score_q
        from pred join ap on pred.doc_id = ap.doc_id
    """


def ngram_lm_sql(d: str, train_mod: int = 10, train_lt: int = 8) -> str:
    """Char-trigram language-model perplexity scoring (the CCNet / KenLM
    quality-filter shape): train an add-1-smoothed trigram LM on the
    doc_id % {train_mod} < {train_lt} split, score every HELD-OUT doc with
    its total and per-gram log-likelihood — low avg_logp = out-of-domain /
    garbled text, the standard LM quality gate for corpus curation.

    Model: P(next | ctx) with ctx = first 2 chars of the trigram, add-1 over
    the train CHARACTER vocabulary; two-level backoff for unseen events —
    seen ctx + unseen next → α/(tot_ctx + V); unseen ctx → uniform 1/V.
    Every log-prob is quantized to bigint 1e-9 units at the model (the
    classify.py discipline), so a doc's score is an exact integer fold and
    the whole scorer is value-hash-gateable.

    Scale: the model is (ctx, next) counts — bounded by charset³, a
    broadcast dimension; train-side aggregates are map-side-combined; the
    held-out corpus shuffles only on doc_id.  Docs shorter than one trigram
    survive with n_grams = 0 and null scores.

    Char-trigram LM trained on the 80% split scores the held-out 20%:
    quantized log-probs, exact integer folds."""
    if d == SPARK:
        ex = lambda cols, g: f"select {cols}, explode({g}) as g"  # noqa: E731
    else:
        ex = lambda cols, g: f"select {cols}, unnest({g}) as g"  # noqa: E731
    lnq = lambda x: f"cast(floor(ln({x}) * {Q}.0e0) as bigint)"  # noqa: E731
    return f"""
        with docs as (
            select doc_id, lower(text) as t from documents
        ),
        tr as (select * from docs where doc_id % {train_mod} < {train_lt}),
        ap as (select * from docs where doc_id % {train_mod} >= {train_lt}),
        tg as (
            select substr(g, 1, 2) as ctx, substr(g, 3, 1) as nxt
            from ({ex("doc_id", _grams("t", d))} from tr) e
        ),
        cnt as (select ctx, nxt, count(*) as c from tg group by ctx, nxt),
        ctot as (select ctx, count(*) as tot from tg group by ctx),
        vsize as (select count(distinct nxt) as v from tg),
        lp as (
            select cnt.ctx, cnt.nxt, {lnq("(c + 1.0e0) / (tot + v)")} as lp_q
            from cnt join ctot on cnt.ctx = ctot.ctx cross join vsize
        ),
        lp0 as (
            select ctx, {lnq("1.0e0 / (tot + v)")} as lp0_q
            from ctot cross join vsize
        ),
        gq as (select {lnq("1.0e0 / v")} as g_q from vsize),
        ag as (
            select doc_id, substr(g, 1, 2) as ctx, substr(g, 3, 1) as nxt,
                   count(*) as tf
            from ({ex("doc_id", _grams("t", d))} from ap) e
            group by doc_id, substr(g, 1, 2), substr(g, 3, 1)
        ),
        scored as (
            select ag.doc_id,
                   sum(ag.tf) as n_grams,
                   sum(ag.tf * coalesce(lp.lp_q, lp0.lp0_q, gq.g_q)) as logp_q
            from ag
            cross join gq
            left join lp on lp.ctx = ag.ctx and lp.nxt = ag.nxt
            left join lp0 on lp0.ctx = ag.ctx
            group by ag.doc_id
        )
        select ap.doc_id,
               cast(coalesce(s.n_grams, 0) as bigint) as n_grams,
               cast(coalesce(s.logp_q, 0) as bigint) as logp_q,
               round(cast(s.logp_q as double) /
                     (cast(s.n_grams as double) * {Q}.0e0), 9) as avg_logp
        from ap left join scored s on s.doc_id = ap.doc_id
    """
