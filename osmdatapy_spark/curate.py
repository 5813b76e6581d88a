"""Composable corpus-curation pipeline — the ``Query``-style facade over
the LLM-data operators (functions/dedup.py, functions/curation.py,
functions/text.py).

The operators each exist and pass their own oracles; this facade makes
the north-star scope USABLE as one object: a ``Curate`` wraps a corpus
DataFrame and chains curation steps lazily (every step is ordinary
DataFrame algebra — nothing executes until an action), mirroring how the
reference's ``Query`` composes predicates before ``osm.query`` runs
(reference osmquery.py:165-209).  Every step — including
``fuzzy_dedup`` since r14 — composes lazily; the shingle-set cache the
fuzzy pass persists is managed per call site (``memo.managed_persist``)
and is released on the next invocation or via
``memo.release("curate.fuzzy_sets")``.

Default recipe (``Curate.default_recipe``): normalize → exact dedup →
fuzzy (n-gram Jaccard) dedup → quality gate → per-domain cap.  Every
default step is pure Column algebra + the already-pinned dedup shapes,
so the end-to-end recipe has an exact DuckDB oracle
(suite/llm.py::llm_curation_recipe).

Scale shape: the steps compose WITHOUT intermediate materialization —
normalize folds into the scan; exact dedup is one fingerprint exchange;
fuzzy dedup is the inverted-index candidate pipeline (never O(n²));
quality is a scan-stage filter; the cap is a map-side WindowGroupLimit.
A planet-scale run persists between the dedup stages (call ``persist()``
where the lineage forks); the small-SF suite leaves Catalyst to pipeline
it all.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from osmdatapy_spark import memo
from osmdatapy_spark.memo import managed_persist


class Curate:
    """Lazy curation pipeline over a ``(id, text, ...)`` corpus.

    Each step returns ``self`` so recipes read as one chain::

        clean = (Curate(docs)
                 .normalize()
                 .exact_dedup()
                 .fuzzy_dedup(threshold=0.5)
                 .quality_filter(min_tokens=20, max_tokens=95)
                 .domain_cap("source", 60)
                 .df())
    """

    def __init__(self, corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text"):
        self._df = corpus
        self.id_col = id_col
        self.text_col = text_col
        self.steps: list[str] = []

    # -- steps -------------------------------------------------------------

    def normalize(self, nfc: bool = False) -> "Curate":
        """Whitespace canonicalization: trim + collapse internal runs to
        one space — pure Column algebra, folds into the scan.  With
        ``nfc=True`` additionally applies NFC unicode normalization via
        the Arrow kernel (functions.text) — off by default so the default
        recipe stays oracle-exact in plain SQL."""
        ws = memo.sstr(r"\s+")
        t = memo.expr(f"regexp_replace(trim({memo.ident(self.text_col)}), {ws}, ' ')")
        if nfc:
            from osmdatapy_spark.functions.text import nfc_normalize

            t = nfc_normalize(t)
        self._df = self._df.withColumn(self.text_col, t)
        self.steps.append("normalize")
        return self

    def exact_dedup(self) -> "Curate":
        """Drop exact duplicates by content fingerprint, keeping the
        smallest id — ONE shuffle on a uniform md5 key (the
        llm_exact_dedup shape).

        The keeper ROW rides the election itself (``min_by(struct(row),
        id)`` — partial-aggregated, so duplicate groups collapse
        map-side): one corpus scan and one exchange, versus the previous
        keeper-id groupBy + semi-join-back which scanned the corpus twice
        and re-shuffled it by id (at planet scale the keeper set is
        corpus-row-sized, so that join could never broadcast).  ``min_by``
        keeps arbitrary column types (no ordering requirement on the
        payload); ids are unique so the election is deterministic."""
        cols = [memo.ident(c) for c in self._df.columns]
        self._df = memo.select(
            self._df.groupBy(memo.expr(f"md5({memo.ident(self.text_col)}) AS _fp")).agg(
                memo.expr(f"min_by(struct({', '.join(cols)}), {memo.ident(self.id_col)}) AS _r")
            ),
            *[f"_r.{c} AS {c}" for c in cols],
        )
        self.steps.append("exact_dedup")
        return self

    def fuzzy_dedup(
        self,
        threshold: float = 0.5,
        shingle_n: int = 3,
        max_doc_freq: int = 20,
        min_shared: int = 3,
        method: str = "jaccard",
        num_perm: int = 8,
    ) -> "Curate":
        """Near-duplicate removal with exact-Jaccard verification over one
        of two candidate generators, dropping the larger id of every pair
        at/above ``threshold`` (min-id keeper — the llm_dedup_keep_best
        reduction; use ``functions.dedup.connected_components`` downstream
        for full transitive clustering):

        - ``method="jaccard"`` (default): inverted-index candidates (the
          llm_jaccard_pairs shape — bucketed postings, chunk-split hot
          shingles).  Exact recall at/above ``min_shared`` shared
          shingles.
        - ``method="minhash"``: MinHash signatures + LSH band collisions
          (the llm_minhash_lsh shape) — fewer candidates at web scale
          (one (docs x bands) shuffle instead of the full posting
          explosion), probabilistic recall tuned by ``num_perm``/banding.

        Both verify candidates by EXACT Jaccard, so precision is 100%
        either way — the generators trade candidate-set cost vs recall.

        Lazy like every other step (r14 — the r13 shape ran the
        candidate+verify pipeline eagerly at chain time; see the
        drop-set comment below for the A/B that removed it).  The
        shingle-set cache is a managed persist: live through the final
        action (which reads it 3x), released on the next invocation.

        One live chain per session: the cache is ONE frame per call site
        (``memo.managed_persist``), so building a second ``fuzzy_dedup``
        chain before the first chain's action runs unpersists the first
        chain's cache.  Both chains still return the same rows; the first
        one's action recomputes the shingle sets (3x) instead of reading
        them from memory.  Run each chain's action before building the
        next to keep the cache.
        """
        from osmdatapy_spark.functions.dedup import (
            jaccard_candidate_pairs,
            jaccard_similarity,
            lsh_band_pairs,
            minhash_signature,
        )
        from osmdatapy_spark.functions.text import shingle_sets

        sets = managed_persist(
            shingle_sets(
                self._df, text_col=self.text_col, id_col=self.id_col, n=shingle_n
            ),
            "curate.fuzzy_sets",
        )
        idc = memo.ident(self.id_col)
        shingled = memo.select(sets, idc, "explode(s) AS s")
        if method == "jaccard":
            cand = jaccard_candidate_pairs(
                shingled, self.id_col, "s",
                max_doc_freq=max_doc_freq, min_shared=min_shared,
            )
        elif method == "minhash":
            sig = minhash_signature(shingled, self.id_col, "s", num_perm=num_perm)
            cand = lsh_band_pairs(sig, self.id_col, num_perm=num_perm)
        else:
            raise ValueError(f"unknown fuzzy_dedup method {method!r} (jaccard|minhash)")
        sa = memo.select(sets, f"{idc} AS id_a", "s AS sa")
        sb = memo.select(sets, f"{idc} AS id_b", "s AS sb")
        scored = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("jac", jaccard_similarity("sa", "sb"))
            .filter(memo.expr(f"jac >= {memo.dlit(threshold)}"))
        )
        dupes = memo.select(scored, f"id_b AS {idc}").distinct()
        # LAZY composition (r14): the drop-set rides the returned plan
        # unhinted and unmaterialized — the r13 shape eagerly
        # localCheckpoint'ed + counted it at CHAIN time (one extra
        # scheduled job per recipe) to free the shingle cache immediately
        # and to pick broadcast-vs-SMJ from the counted size.  Both
        # reasons are now served without the eager job:
        # - the shingle cache is a managed_persist — it must be live
        #   through the final action anyway (the dupes subtree reads it
        #   3x inside that job) and is released on the next invocation
        #   (or release("curate.fuzzy_sets") explicitly);
        # - the join is UNHINTED, so AQE picks broadcast from the
        #   drop-set's ACTUAL runtime shuffle size and falls back to
        #   sort-merge for pervasively-duplicated corpora — the
        #   coords_lookup discipline, with runtime truth instead of a
        #   driver-side count.
        # Interleaved same-session A/B at sf0.1 (llm_curation_recipe,
        # best-of-3 pairs): eager 2.75 s vs lazy 2.29 s — the deleted
        # job boundary and checkpoint materialization are the delta;
        # rows identical at sf0.01 (oracle green both SFs).
        self._df = self._df.join(dupes, self.id_col, "left_anti")
        self.steps.append("fuzzy_dedup")
        return self

    def paragraph_dedup(self, block: int = 20) -> "Curate":
        """Rewrite each document keeping only its globally-first-seen
        paragraphs (functions.curation.paragraph_dedup — the boilerplate
        killer; paragraphs are ``block``-token word blocks).  The report's
        ``dedup_text`` replaces the text column; other columns survive.
        Optional step: not part of the oracled default recipe."""
        from osmdatapy_spark.functions.curation import paragraph_dedup

        rep = paragraph_dedup(
            self._df, id_col=self.id_col, text_col=self.text_col, block=block
        ).select(self.id_col, col("dedup_text").alias(self.text_col))
        self._df = self._df.drop(self.text_col).join(rep, self.id_col, "left")
        self.steps.append("paragraph_dedup")
        return self

    def substring_dedup(self, span_len: int = 20, hash_keys: bool = True) -> "Curate":
        """Exact duplicated-SPAN removal as a recipe step (Lee et al.
        ExactSubstr — `functions.curation.exact_substring_dedup`): every
        char ``span_len``-gram occurring >= 2 times anywhere in the
        corpus keeps only its minimal-(id, position) occurrence; every
        other occurrence's window is cut from its document's text.  The
        rewritten text replaces the text column; other columns survive.

        ``hash_keys`` defaults to True here — the facade is the
        pipeline-shaped entry point, so it gets the planet-scale 8-byte
        xxhash64 election keys (the registered oracle faces pin
        hashed == raw); pass False for the engine-exact raw-gram mode.
        Optional step: not part of the oracled default recipe."""
        from osmdatapy_spark.functions.curation import exact_substring_dedup

        rep = exact_substring_dedup(
            self._df,
            id_col=self.id_col,
            text_col=self.text_col,
            span_len=span_len,
            hash_keys=hash_keys,
        ).select(self.id_col, col("text_deduped").alias(self.text_col))
        self._df = self._df.drop(self.text_col).join(rep, self.id_col, "left")
        self.steps.append("substring_dedup")
        return self

    def decontaminate(
        self,
        eval_docs: DataFrame,
        n: int = 13,
        max_fraction: float = 0.0,
        eval_text_col: str = "text",
        hash_keys: bool = False,
    ) -> "Curate":
        """Benchmark decontamination as a recipe step (the GPT-3/PaLM
        practice — scrub eval overlap in the same pipeline that dedups):
        drop every document whose word-``n``-gram overlap with
        ``eval_docs`` exceeds ``max_fraction`` of its own distinct grams
        (default 0.0 = any-hit drop).  Built on
        ``functions.curation.decontamination_report``.

        Scale shape: the eval gram set broadcasts to the corpus scan
        (the 100 TB side never shuffles for the probe), only matched
        rows reach the per-doc rollup, and the resulting DROP set —
        contaminated ids only, rare by construction — broadcasts back
        for a map-side anti-join, so the step adds ZERO corpus-sized
        exchanges.  If contamination is pervasive enough that the drop
        set won't broadcast, that's a data problem to fix upstream, not
        a plan to widen.  ``hash_keys=True`` shrinks the broadcast
        ~10x by probing on xxhash64(gram) (8-byte keys; collisions can
        only over-flag — see decontamination_report); default False so
        the registered oracle face stays engine-exact raw strings."""
        from osmdatapy_spark.functions.curation import decontamination_report

        ev = eval_docs
        if eval_text_col != self.text_col:
            ev = ev.withColumnRenamed(eval_text_col, self.text_col)
        rep = decontamination_report(
            self._df, ev, id_col=self.id_col, text_col=self.text_col, n=n,
            hash_keys=hash_keys,
        )
        drop = rep.filter(
            col("n_contaminated").cast("double")
            > lit(float(max_fraction)) * col("n_grams").cast("double")
        ).select(self.id_col)
        self._df = self._df.join(F.broadcast(drop), self.id_col, "left_anti")
        self.steps.append("decontaminate")
        return self

    def quality_filter(
        self,
        min_tokens: int = 20,
        max_tokens: int = 95,
        min_diversity: float = 0.3,
    ) -> "Curate":
        """Token-count band + type-token diversity gate (the
        llm_quality_filter rule) — a scan-stage filter, zero shuffle."""
        from osmdatapy_spark.functions.text import tokens_sql

        n = f"size({tokens_sql(memo.ident(self.text_col))})"
        diversity = f"CAST(size(array_distinct({tokens_sql(memo.ident(self.text_col))})) AS DOUBLE) / {n}"
        self._df = self._df.filter(
            memo.expr(
                f"(({n} >= {int(min_tokens)}) AND ({n} <= {int(max_tokens)})) "
                f"AND (({diversity}) > {memo.dlit(min_diversity)})"
            )
        )
        self.steps.append("quality_filter")
        return self

    def domain_cap(self, domain_col: str = "source", k: int = 60) -> "Curate":
        """At most ``k`` documents per domain, deterministic keeper order
        (smallest id) — rank<=k rewrites to a map-side WindowGroupLimit
        (the llm_domain_cap shape), so no domain's full row set ever
        shuffles."""
        rank = (
            f"row_number() OVER (PARTITION BY {memo.ident(domain_col)} "
            f"ORDER BY {memo.ident(self.id_col)})"
        )
        self._df = (
            self._df.withColumn("_rk", memo.expr(rank))
            .filter(memo.expr(f"_rk <= {int(k)}"))
            .drop("_rk")
        )
        self.steps.append("domain_cap")
        return self

    # -- terminals ---------------------------------------------------------

    def df(self) -> DataFrame:
        """The surviving corpus after every chained step."""
        return self._df

    def persist(self) -> "Curate":
        """Materialization point between stages — at planet scale call
        this after the dedup stages so downstream steps re-scan memory."""
        self._df = self._df.persist()
        return self

    # -- recipes -----------------------------------------------------------

    @classmethod
    def default_recipe(
        cls, corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text",
        domain_col: Optional[str] = "source", cap: int = 60,
    ) -> "Curate":
        """The documented default curation recipe: normalize → exact →
        fuzzy → quality → per-domain cap.  Oracled end-to-end by
        suite/llm.py::llm_curation_recipe."""
        c = (
            cls(corpus, id_col, text_col)
            .normalize()
            .exact_dedup()
            .fuzzy_dedup(threshold=0.5)
            .quality_filter(min_tokens=20, max_tokens=95, min_diversity=0.3)
        )
        if domain_col is not None:
            c = c.domain_cap(domain_col, cap)
        return c
