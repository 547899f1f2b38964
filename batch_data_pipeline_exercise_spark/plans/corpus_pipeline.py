"""Day-over-day training-corpus pipeline — the LLM-data analogue of
``plans/pipeline.py``'s warehouse orchestration.

The reference pipeline (``examples/process_orders.py``) is
feed-increment driven: each day's drop is normalized, merged into
persistent layers, and re-running a day is a no-op. This module applies
exactly that discipline to corpus preparation: each call to
``run(docs, ds)`` processes ONE day's document increment through

    1 score/filter -> 2 exact dedup
    -> (3 text near-dup ∥ 4 embedding near-dup) -> 5 shard/pack
    -> 6 persist: config -> DOCS
         -> (FINGERPRINTS ∥ LSH_INDEX ∥ SIGN_INDEX ∥ stat counts) -> LOG mark,

touching history ONLY through persisted, probe-joinable indexes:

- ``corpus_fingerprints`` — normalized-content md5 per retained doc
  (exact-dup anti-join key);
- ``corpus_lsh_index`` — MinHash band keys per retained doc
  (``dedup.incremental_minhash_pairs`` probes it; the increment is
  shingled, history never is);
- ``corpus_sign_index`` — sign-hyperplane sketch per retained doc's
  embedding (``similarity.incremental_embedding_pairs`` probes it);
- ``corpus_docs`` — the retained corpus, ds-partitioned, with shard +
  packing-bin assignment for downstream tokenization.

Day-N cost is O(increment + collisions): the only history rows read are
index probes on high-entropy keys and the texts/vectors of COLLIDING
docs (fetched by key for verification). The ``docs_shingled``
observation metric in the returned stats is the auditable evidence —
it counts rows entering the signature stage IN the job that runs it
(Spark Observation API, no second scan), so a test can assert day 2
shingled only day 2's docs.

Independent branches run concurrently (``pipeline.fan_out``, the same
mechanism as ``Pipeline.run_orders``): stages 3 and 4 both start from
the exact-dedup survivors (stage 4's pairs touching a text-dropped doc
are removed afterwards, which gives exactly the sequential result), and
the index appends run side by side once DOCS has landed. The branches
inherit the caller's job group and tags. A failing branch does not
cancel its siblings: the run waits for all of them and raises the first
failure in branch order (the text stage before the embedding stage), so
no write is in flight when ``run`` raises. Stages 3 and 4 write nothing;
a failure during the persist fan-out leaves DOCS and some indexes on
disk without the LOG mark, which the crash-replay healing in ``run``
completes.

Idempotency mirrors ``Pipeline``: every write is ``append_once`` on the
layer's natural key, and a ``_corpus_log`` mark short-circuits a replay
of an already-processed ds before any compute.

Near-dup retention policy (both text and embedding stages): verified
pairs are clustered (``graph.connected_components``, same as the
``corpus_prep_pipeline`` flagship); within a component, if any RETAINED
(prior) doc is present every new doc in it drops, else the smallest new
doc id is kept. History is immutable — a new doc can never evict a
retained one, which is what makes increments composable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_data_pipeline_exercise_spark.operators import dedup, graph, similarity, text
from batch_data_pipeline_exercise_spark.operators.similarity import LshCandidateBudgetError
from batch_data_pipeline_exercise_spark.operators.quality import observe_load_metrics
from batch_data_pipeline_exercise_spark.operators.sampling import assign_packing_bins
from batch_data_pipeline_exercise_spark.plans.pipeline import fan_out
from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse


class CorpusContractError(ValueError):
    """A run violates the corpus's embedding-coverage contract (e.g. an
    embedding-deduped corpus run without embeddings). A dedicated type so
    CLI/callers can catch the contract refusal specifically instead of
    blanket-catching ValueError (which would also swallow incidental
    ValueErrors from pyspark/pandas/arrow deep in the run)."""


class CorpusPipeline:
    DOCS = "corpus_docs"
    FINGERPRINTS = "corpus_fingerprints"
    LSH_INDEX = "corpus_lsh_index"
    SIGN_INDEX = "corpus_sign_index"
    LOG = "_corpus_log"
    SKETCH_CONFIG = "_corpus_sketch_config"

    #: the kept documents' language and minimum quality score
    LANG = "en"
    MIN_QUALITY = 0.6
    #: verify thresholds of the text (Jaccard) and embedding (cosine)
    #: near-dup stages; the LSH sizing targets them too
    JACCARD_THRESHOLD = 0.7
    COSINE_THRESHOLD = 0.95
    #: output shards, and the token budget of one packing bin
    N_SHARDS = 8
    PACK_BUDGET = 2048

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        max_text_candidates: int | str | None = "auto",
        max_embedding_candidates: int | str | None = "auto",
        expected_corpus_docs: int | None = None,
        min_recall: float = similarity.SIZING_MIN_RECALL,
        sizing_target_occupancy: int | None = None,
        recycle_session_every: int = 0,
    ):
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root)
        #: opt-in (0 = off): rebuild the SparkSession after every N
        #: completed daily runs — see ``Pipeline.recycle_session`` for
        #: the JVM-state rationale. A recycle happens only at the END of
        #: ``run`` (the day fully persisted), so the warehouse is the
        #: checkpoint; with the knob on, build each day's input
        #: DataFrames from ``pipeline.spark`` (or use ``run_path``) —
        #: DataFrames from a recycled session are dead.
        self.recycle_session_every = recycle_session_every
        self._runs_since_recycle = 0
        #: observability: how many times this pipeline recycled its session
        self.session_recycles = 0
        self.max_text_candidates = max_text_candidates
        self.max_embedding_candidates = max_embedding_candidates
        self.min_recall = min_recall
        if expected_corpus_docs is None:
            # the operators' shipped defaults (k=32/8 bands minhash,
            # 8x8 sign-LSH) — comfortable to ~60k docs per the sizing
            # rule, and what every existing corpus index was built with
            self.text_bands, self.text_rows = 8, 4
            self.emb_bands, self.emb_rows = 8, 8
        else:
            # recall-aware sizing (round-10 verdict): the S-curve picks
            # the cheapest sketch meeting BOTH the occupancy ceiling at
            # the expected corpus size and the recall floor at each
            # stage's verify threshold — sizing for the corpus the index
            # will GROW INTO, since band keys are baked into the
            # persisted index and cannot change per increment.
            # Per-family occupancy targets — the two LSH families have
            # OPPOSITE occupancy physics and one number cannot serve both
            # (measured: evidence/SIZEDCORPUS_r11.jsonl, the 2×3 sign sketch
            # a shared loose target derived priced 49M collisions for 11k
            # vectors and was refused by its own budget gate on day 2):
            # - minhash band keys are md5s over signature rows — the key
            #   space is effectively unbounded and occupancy is CONTENT-
            #   driven (near-1 except true dup groups), so the uniform
            #   floor is only a coarse guide and defaults LOOSE (16k). A
            #   strict 256 target demands absurd widths at low thresholds
            #   (0.7/0.9 at 500k docs → 116×11 = a 1276-column aggregate);
            #   the sf10 flagship ladder measured the loose-target pick
            #   (13×5) beating the strict family default on BOTH recall
            #   and cost (evidence/SIZEDFLAG_E2E_r11.jsonl).
            # - sign-LSH keys live in exactly 2^rows buckets per band —
            #   expected occupancy really is n/2^rows and per-bucket
            #   candidate work scales occ²/2, so the target stays at the
            #   scout-health 256 (the rows_per_band_for default).
            self.text_bands, self.text_rows, _ = similarity.bands_rows_for(
                self.JACCARD_THRESHOLD, min_recall, expected_corpus_docs,
                sizing_target_occupancy if sizing_target_occupancy is not None else 16384,
            )
            self.emb_bands, self.emb_rows, _ = similarity.bands_rows_for(
                self.COSINE_THRESHOLD, min_recall, expected_corpus_docs,
                sizing_target_occupancy
                if sizing_target_occupancy is not None
                else self.BUDGET_TARGET_OCCUPANCY,
                p=similarity.cosine_collision_p(self.COSINE_THRESHOLD),
            )
            for label, k in (
                ("text", self.text_bands * self.text_rows),
                ("embedding", self.emb_bands * self.emb_rows),
            ):
                if k > self.MAX_SKETCH_WIDTH:
                    raise CorpusContractError(
                        f"derived {label} sketch width k={k} exceeds the "
                        f"practical ceiling {self.MAX_SKETCH_WIDTH} (a "
                        f"{k}-column aggregate is past whole-stage-codegen "
                        "limits). Raise sizing_target_occupancy (the "
                        "bucket-cap and candidate-budget guardrails absorb "
                        "occupancy hot-spots at run time), lower min_recall "
                        "explicitly, or shard the corpus."
                    )

    # -- LSH candidate budgets (on by default: a nightly corpus run must
    # -- not launch a join a scout would have refused in seconds) --------

    #: the sizing rule's expected-occupancy ceiling (``rows_per_band_for``
    #: default): a healthy sketch holds per-bucket occupancy ≤ this
    BUDGET_TARGET_OCCUPANCY = 256
    #: ceiling on derived signature width bands × rows: past this, the
    #: k-column min-aggregate blows whole-stage codegen (the 116×11
    #: config the strict occupancy model demands at 472k docs is the
    #: measured example) — sizing refuses instead of constructing it
    MAX_SKETCH_WIDTH = 512

    @property
    def text_k(self) -> int:
        """Minhash signature width = bands × rows for the text stage."""
        return self.text_bands * self.text_rows

    def _budget(self, knob: int | str | None, n_increment: int, bands: int) -> int | None:
        """Resolve a budget knob for an increment of ``n_increment`` docs.
        ``"auto"`` (the default) allows 4× the healthy-occupancy
        collision ceiling: a rightly-sized sketch prices at most
        ~1.5 · bands · n · target_occupancy candidates (cross-probe term
        bands·n·occ plus within-increment bands·n·occ/2), so 4× passes
        every healthy run untouched while a candidate-quadratic
        degenerate increment (the measured sf10 disk-exhaustion shape)
        is refused with a sizing suggestion. ``None`` disables the gate;
        an int is used as-is."""
        if knob is None:
            return None
        if knob == "auto":
            return 4 * bands * max(n_increment, 1) * self.BUDGET_TARGET_OCCUPANCY
        return int(knob)

    # -- session lifecycle ----------------------------------------------------

    def recycle_session(self):
        """Stop the bound SparkSession and rebind this pipeline (and its
        warehouse) to a fresh one — same semantics as
        ``Pipeline.recycle_session``: the live session's explicitly-set
        confs (runtime ``conf.set`` included) are snapshot and replayed
        via ``session.rebuild_session``. Legal between runs: all corpus
        state lives in the warehouse."""
        from batch_data_pipeline_exercise_spark.session import rebuild_session

        root = self.wh.root
        self.spark = rebuild_session(self.spark)
        self.wh = Warehouse(self.spark, root)
        self._runs_since_recycle = 0
        self.session_recycles += 1
        return self.spark

    def _maybe_recycle(self) -> None:
        self._runs_since_recycle += 1
        if self.recycle_session_every and self._runs_since_recycle >= self.recycle_session_every:
            self.recycle_session()

    def run_path(
        self, docs_path: str, ds: str, embeddings_path: str | None = None
    ) -> dict:
        """``run`` with parquet paths instead of DataFrames — the
        recycle-proof entry point for multi-day drivers (inputs are read
        from whichever session is CURRENT, so a recycle between days
        cannot leave the caller holding dead DataFrames)."""
        emb = self.spark.read.parquet(embeddings_path) if embeddings_path else None
        return self.run(self.spark.read.parquet(docs_path), ds, embeddings=emb)

    # -- sketch-config constancy guard ---------------------------------------

    #: the operators' shipped defaults (k=32 / 8-band minhash, 8x8
    #: sign-LSH) — the ONLY config any index created before the
    #: SKETCH_CONFIG table existed can have been built with
    DEFAULT_SKETCH_CONFIG = (32, 8, 8, 8)

    def _check_sketch_config(self) -> None:
        """Refuse a run whose sketch parameters differ from the ones the
        persisted indexes were built with. Band keys are pure functions
        of (content, k/bands resp. bands/rows/seed): probing a stored
        index with keys from a DIFFERENT config never collides, so a
        mismatched resume would not error — it would silently report
        zero cross-increment near-dups forever.

        Check-only: the config is RECORDED in ``_finish`` (before the
        first index write), never here — a run refused by a later guard
        or candidate budget must not bake a config for indexes that were
        never built, or retrying with the refusal's own suggested resize
        would be rejected with a message claiming phantom indexes.

        Upgrade path: a warehouse created before the config table
        existed has indexes but no SKETCH_CONFIG row. Those can only
        have been built at the shipped defaults, so the defaults stand
        in as the stored config — a non-default resume is refused, not
        silently baked over 8x4/8x8 band keys.

        A recorded config is BINDING once ANY config-dependent layer
        holds rows — not only the indexes (whose rows embed band keys)
        but DOCS/FINGERPRINTS too, whose rows embed the near-dup
        SURVIVOR SELECTION made under the config (r12 advice: ``_finish``
        appends DOCS before any index, and FINGERPRINTS alongside them,
        so a crash in that window followed by a resized retry would
        leave DOCS rows chosen under the old config that nothing ever
        reconciles). A config row with NO layer rows at all (a crash
        between the config write and the DOCS append) constrains
        nothing — a resized retry proceeds and ``_record_sketch_config``
        overwrites the orphan row instead of refusing over phantom
        state. A crash mid-``_finish`` therefore recovers by retrying
        at the recorded config: ``run`` replays the day with the
        partial ds's own rows masked out of every prior-layer probe and
        ``append_once`` fills the missing layers idempotently."""
        cfg = (self.text_k, self.text_bands, self.emb_bands, self.emb_rows)
        if not self._sketch_config_binding():
            return  # no index rows exist; any config is consistent
        if self.wh.exists(self.SKETCH_CONFIG):
            stored = self.wh.read(self.SKETCH_CONFIG).first()
            stored_cfg = (
                stored["text_k"], stored["text_bands"],
                stored["emb_bands"], stored["emb_rows"],
            )
            provenance = "this corpus's indexes were built with"
        else:  # binding (an index exists) but no config row: pre-config era
            stored_cfg = self.DEFAULT_SKETCH_CONFIG
            provenance = (
                "this corpus has persisted indexes but no recorded sketch "
                "config (created before config tracking); they can only have "
                "been built at the shipped defaults"
            )
        if stored_cfg != cfg:
            raise CorpusContractError(
                f"sketch config mismatch: {provenance} "
                f"text k={stored_cfg[0]}/bands={stored_cfg[1]}, embedding "
                f"bands={stored_cfg[2]}x rows={stored_cfg[3]}, but the pipeline "
                f"was constructed with text k={cfg[0]}/bands={cfg[1]}, embedding "
                f"bands={cfg[2]}x rows={cfg[3]}. Probing a persisted LSH index "
                "with keys from a different sketch never collides — the run "
                "would silently miss every cross-increment near-dup. Construct "
                "the pipeline with the original config, or rebuild the corpus "
                "indexes under the new one."
            )

    def _sketch_config_binding(self) -> bool:
        """True iff any persisted layer whose CONTENT depends on the
        sketch config holds rows: the indexes embed band keys, and
        DOCS/FINGERPRINTS embed the survivor selection the config's
        near-dup decisions produced (r12 advice — binding on indexes
        alone let a resized retry proceed over a crash window's
        partially-persisted DOCS rows)."""
        return (
            self.wh.exists(self.DOCS)
            or self.wh.exists(self.FINGERPRINTS)
            or self.wh.exists(self.LSH_INDEX)
            or self.wh.exists(self.SIGN_INDEX)
        )

    def _record_sketch_config(self) -> None:
        """Persist the sketch config in ``_finish``, before any index row
        is written (so a crash mid-persist can never leave index rows
        whose config was not recorded). Once an index exists the row is
        authoritative and never rewritten; an orphan row from a crash
        BEFORE the first index append (config written, persist died)
        constrains nothing and is overwritten by the retry's config."""
        cfg = (self.text_k, self.text_bands, self.emb_bands, self.emb_rows)
        df = self.spark.createDataFrame(
            [cfg], "text_k int, text_bands int, emb_bands int, emb_rows int"
        )
        if not self.wh.exists(self.SKETCH_CONFIG):
            self.wh.append(df, self.SKETCH_CONFIG)
            return
        stored = self.wh.read(self.SKETCH_CONFIG).first()
        if (
            stored["text_k"], stored["text_bands"],
            stored["emb_bands"], stored["emb_rows"],
        ) != cfg:
            # only reachable in the crash window (no config-dependent
            # layer rows — _check_sketch_config would have refused
            # otherwise)
            self.wh.overwrite(df, self.SKETCH_CONFIG)

    # -- replay bookkeeping (same shape as the CLI's _backfill_log) ----------

    def _done(self, ds: str) -> bool:
        if not self.wh.exists(self.LOG):
            return False
        return (
            self.wh.read(self.LOG).filter(F.col("ds") == ds).limit(1).count() > 0
        )

    def _mark(self, ds: str) -> None:
        self.wh.append(
            self.spark.createDataFrame([(ds,)], "ds string"), self.LOG
        )

    # -- near-dup retention: cluster verified pairs, drop non-canonical new --

    def _dup_drops(
        self, pairs: DataFrame, new_ids: DataFrame, max_edges: int | None = None
    ) -> DataFrame:
        """(doc_id) rows to drop from the increment, given verified dup
        pairs (id1, id2) and the increment's id set. Components with a
        prior (retained) member drop all their new docs; all-new
        components keep their min id. ``max_edges``: see
        ``graph.connected_components``."""
        cc = graph.connected_components(
            pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst")),
            max_edges=max_edges,
        )
        flagged = cc.join(
            new_ids.select(F.col("doc_id").alias("id"), F.lit(True).alias("__new")),
            "id",
            "left",
        ).na.fill({"__new": False})
        agg = flagged.groupBy("comp").agg(
            F.max(F.when(~F.col("__new"), 1).otherwise(0)).alias("has_prior"),
            F.min(F.when(F.col("__new"), F.col("id"))).alias("min_new"),
        )
        return (
            flagged.filter(F.col("__new"))
            .join(agg, "comp")
            .filter((F.col("has_prior") == 1) | (F.col("id") != F.col("min_new")))
            .select(F.col("id").alias("doc_id"))
            .distinct()
        )

    # -- periodic maintenance ------------------------------------------------

    #: every layer takes one small append per day — same accumulation
    #: profile as the warehouse facts
    MAINTAINED_TABLES = (DOCS, FINGERPRINTS, LSH_INDEX, SIGN_INDEX, LOG)

    def maintain(self, max_files_per_partition: int = 8) -> list[str]:
        """Nightly-cadence compaction for the corpus layers — identical
        gate to ``Pipeline.maintain``: a table qualifies when its
        data-file count exceeds the per-partition budget, and compaction
        targets the budget so the gate doesn't re-trigger nightly.
        Returns the compacted tables."""
        compacted: list[str] = []
        for table in self.MAINTAINED_TABLES:
            if not self.wh.exists(table):
                continue
            budget = max_files_per_partition * self.wh.partition_dir_count(table)
            if self.wh.file_count(table) > budget:
                self.wh.compact(table, target_partitions=max(1, budget))
                compacted.append(table)
        return compacted

    # -- the daily run -------------------------------------------------------

    def run(self, docs: DataFrame, ds: str, embeddings: DataFrame | None = None) -> dict:
        """Process one day's increment. ``docs``: (doc_id, text).
        ``embeddings``: optional (doc_id, embedding array<float/double>)
        for the increment's docs. Returns a stats dict; re-running a
        processed ds returns ``{"already_done": True}`` without compute.

        Embedding-coverage contract: the embedding near-dup stage guards
        only SKETCHED history — a retained doc with no embedding row
        never enters ``corpus_sign_index``, so later increments'
        embedding probes can never match it. Partial coverage is
        therefore reported per run as ``docs_kept_without_embedding``
        (docs that landed in the corpus unsketched), and a corpus that
        has started embedding dedup (the sign index exists) REFUSES a
        run that omits ``embeddings`` outright — silently skipping the
        stage would punch a permanent, invisible recall hole.

        Candidate budgets: both near-dup stages price their LSH joins
        before launching them (default ``"auto"`` — see ``_budget``); an
        over-budget increment raises ``CorpusContractError`` carrying
        the operator's exact collision count and sizing suggestion, so a
        nightly run refuses in seconds instead of dying mid-spill.

        The text and embedding near-dup stages run concurrently on the
        exact-dedup survivors, and the embedding stage's pairs that touch
        a text-dropped doc are removed afterwards: the kept docs, pairs
        and indexes are exactly those of running the stages one after the
        other. Two visible consequences: the embedding candidate budget
        prices the exact-dedup survivors (a superset of the text
        survivors by the text-drop set), so it can refuse slightly
        earlier and never later; and a malformed vector on a
        text-dropped doc reaches the sketch kernel and raises its
        ``ValueError``, as for any other doc."""
        if self._done(ds):
            return {"ds": ds, "already_done": True}
        self._check_sketch_config()
        # crash-replay self-healing: _finish persists config -> DOCS ->
        # {FINGERPRINTS, LSH, SIGN concurrently} -> LOG-mark, so a crash
        # mid-way leaves this ds's own rows in DOCS and ANY subset of the
        # indexes while _done is still false. Probing them on retry would drop the day's docs
        # as dups of THEMSELVES (the exact-fingerprint anti-join alone
        # kills the whole increment), appending nothing — the indexes
        # would then be missing this ds's band keys forever, the same
        # silent never-collides pathology the sketch-config guard
        # refuses. Mask the partial ds's own rows out of every
        # prior-layer probe; the retry recomputes the day from the same
        # pre-crash state as the original run (deterministic operators
        # => identical survivors) and append_once fills the missing
        # layers idempotently.
        partial_ids = None
        if self.wh.exists(self.DOCS):
            cur = self.wh.read(self.DOCS).filter(F.col("ds") == ds)
            if cur.limit(1).count() > 0:
                partial_ids = cur.select("doc_id").localCheckpoint()
        if embeddings is None and self.wh.exists(self.SIGN_INDEX):
            raise CorpusContractError(
                f"this corpus has an embedding sign index ({self.SIGN_INDEX!r}) but the "
                f"run for ds={ds} supplies no embeddings: its retained docs would never "
                "be sketched, so future increments' embedding near-dup probes could not "
                "match them — a permanent recall hole. Pass embeddings for every run of "
                "an embedding-deduped corpus."
            )

        # 1. score once into a pinned projection (the corpus_prep_pipeline
        # lesson: filtering on unpinned derived columns re-inlines the
        # scorer trees), with in-flight counts from the SAME job
        scored = text.with_fingerprint(
            text.with_quality_lang(docs.select("doc_id", "text"))
        ).select("doc_id", "text", "quality_score", "n_tokens", "lang_pred", "fingerprint_norm")
        scored, obs_in = observe_load_metrics(
            scored, {"docs_in": F.count(F.lit(1))}, name=f"corpus_in_{ds}"
        )
        scored = scored.localCheckpoint()
        kept = scored.filter(
            (F.col("lang_pred") == self.LANG) & (F.col("quality_score") >= self.MIN_QUALITY)
        )

        # 2. exact dedup: canonical min-id within the batch, then an
        # anti-join against the persisted fingerprint index (one probe —
        # history texts are never read)
        w = Window.partitionBy("fingerprint_norm")
        kept = kept.withColumn("__m", F.min("doc_id").over(w)).filter(
            F.col("doc_id") == F.col("__m")
        ).drop("__m")
        if self.wh.exists(self.FINGERPRINTS):
            fp = self.wh.read(self.FINGERPRINTS)
            if partial_ids is not None:
                fp = fp.join(partial_ids, "doc_id", "left_anti")
            kept = kept.join(
                fp.select("fingerprint_norm"), "fingerprint_norm", "left_anti"
            )
        # docs_shingled is THE O(increment) evidence: counted inside the
        # job that materializes the signature-stage input, so a test can
        # assert day 2 shingles day-2 docs only, however big history is
        kept, obs_sh = observe_load_metrics(
            kept, {"docs_shingled": F.count(F.lit(1))}, name=f"corpus_shingled_{ds}"
        )
        kept = kept.localCheckpoint()

        n_increment = int(obs_sh.get["docs_shingled"])

        # 3 ∥ 4: both near-dup stages start from the pinned exact-dedup
        # survivors and write nothing, so they run concurrently. Stage 4
        # then sees the text-dropped docs too; the restriction below
        # removes every pair touching one, which is exact: LSH candidacy
        # and cosine verification are per-pair functions of the two
        # vectors, so the pairs among (text survivors ∪ prior) are the
        # pairs among (exact-dedup survivors ∪ prior) minus those.
        def text_stage() -> tuple[DataFrame, DataFrame]:
            # 3. text near-dup: shingle ONLY the increment, probe the
            # stored band-key index; verify candidates by exact Jaccard
            # over the colliding docs' texts (new side from the
            # increment, prior side fetched BY KEY from corpus_docs)
            prior_lsh = self.wh.read(self.LSH_INDEX) if self.wh.exists(self.LSH_INDEX) else None
            if prior_lsh is not None and partial_ids is not None:
                prior_lsh = prior_lsh.join(
                    partial_ids.select(F.col("doc_id").alias("id")), "id", "left_anti"
                )
            try:
                cand, lsh_union = dedup.incremental_minhash_pairs(
                    prior_lsh, kept, "doc_id",
                    k=self.text_k, bands=self.text_bands,
                    max_candidates=self._budget(
                        self.max_text_candidates, n_increment, self.text_bands
                    ),
                    threshold=self.JACCARD_THRESHOLD,
                )
            except LshCandidateBudgetError as e:
                raise CorpusContractError(
                    f"text near-dup stage for ds={ds} refused by the candidate budget "
                    f"(max_text_candidates={self.max_text_candidates!r}): {e}"
                ) from e
            cand = cand.localCheckpoint()
            pair_ids = (
                cand.select(F.col("id1").alias("doc_id"))
                .unionByName(cand.select(F.col("id2").alias("doc_id")))
                .distinct()
            )
            sides = kept.select("doc_id", "text")
            if self.wh.exists(self.DOCS):
                # partition-pruned: a crash-replay must not fetch the
                # partial ds's own rows as "prior corpus" texts
                sides = sides.unionByName(
                    self.wh.read(self.DOCS)
                    .filter(F.col("ds") != ds)
                    .select("doc_id", "text")
                )
            colliding = sides.join(pair_ids, "doc_id", "left_semi")
            # fused array verify (r14): per-doc in-row shingle sets +
            # array_intersect instead of an exploded shingle join — same
            # integer counts, bit-identical jaccard, one array per doc
            # crossing the pair joins instead of one row per (doc, shingle)
            verified = dedup.verify_jaccard_arrays(
                cand, colliding, "doc_id", "text", n=3, threshold=self.JACCARD_THRESHOLD
            )
            drops = self._dup_drops(verified, kept.select("doc_id")).localCheckpoint()
            return drops, lsh_union

        def embedding_stage() -> tuple[DataFrame | None, DataFrame | None, dict]:
            # 4. embedding near-dup (optional): sketch ONLY the
            # increment's vectors, probe the stored sign-sketch index
            stats: dict = {}
            if embeddings is None:
                return None, None, stats
            prior_sign = (
                self.wh.read(self.SIGN_INDEX) if self.wh.exists(self.SIGN_INDEX) else None
            )
            if prior_sign is not None and partial_ids is not None:
                prior_sign = prior_sign.join(
                    partial_ids.select(F.col("doc_id").alias("id")), "id", "left_anti"
                )
            if prior_sign is None and self.wh.exists(self.DOCS):
                # the coverage guard's REVERSE direction: starting
                # embedding dedup on a corpus with retained history
                # leaves every prior doc unsketched — none of them can
                # ever match a future probe. Legal (adopting embedding
                # dedup late is a real migration), but the permanent
                # recall hole must be visible at the moment it is
                # created, not only retrospectively in old runs'
                # docs_kept_without_embedding stats.
                stats["corpus_docs_unsketched"] = (
                    self.wh.read(self.DOCS).filter(F.col("ds") != ds).count()
                )
            emb_in = embeddings.join(kept.select("doc_id"), "doc_id", "left_semi")
            if emb_in.limit(1).count() == 0:
                # nothing to sketch: no pairs and no index rows today
                return None, None, stats
            try:
                pairs, sign_union = similarity.incremental_embedding_pairs(
                    prior_sign,
                    emb_in,
                    threshold=self.COSINE_THRESHOLD,
                    bands=self.emb_bands,
                    rows_per_band=self.emb_rows,
                    id_col="doc_id",
                    vec_col="embedding",
                    max_candidates=self._budget(
                        self.max_embedding_candidates, n_increment, self.emb_bands
                    ),
                    # free upper bound on the increment's rows (from the
                    # shingle-stage observation): lets the within-increment
                    # pair join skip its occupancy scan on small days
                    n_new_rows=n_increment,
                )
            except LshCandidateBudgetError as e:
                raise CorpusContractError(
                    f"embedding near-dup stage for ds={ds} refused by the candidate "
                    f"budget (max_embedding_candidates="
                    f"{self.max_embedding_candidates!r}): {e}"
                ) from e
            return pairs.localCheckpoint(), sign_union, stats

        # text first: when both stages fail, the text-stage error is raised
        (text_drops, lsh_union), (epairs, sign_union, emb_stats) = fan_out(
            self.spark, text_stage, embedding_stage
        )
        kept = kept.join(text_drops, "doc_id", "left_anti").localCheckpoint()

        sign_rows = None
        if embeddings is not None:
            emb_new = embeddings.join(kept.select("doc_id"), "doc_id", "left_semi")
            if epairs is None or emb_new.limit(1).count() == 0:
                # no text survivor has a vector: skip the stage, leave
                # the index as-is
                return self._finish(
                    kept, ds, None, lsh_union, obs_in, obs_sh, emb_stats,
                    emb_ids=embeddings.select("doc_id"), partial_ids=partial_ids,
                )
            # the restriction: drop every pair with an end in the
            # text-drop set (see 3 ∥ 4 above)
            for end in ("id1", "id2"):
                epairs = epairs.join(
                    F.broadcast(text_drops.select(F.col("doc_id").alias(end))), end, "left_anti"
                )
            # lazy pin: the count below materializes it. Counted before
            # clustering: the stat needs it anyway, and twice it bounds
            # the symmetrized edge count
            epairs = epairs.localCheckpoint(eager=False)
            n_pairs = epairs.count()
            kept = kept.join(
                self._dup_drops(
                    epairs.select("id1", "id2"), kept.select("doc_id"), max_edges=2 * n_pairs
                ),
                "doc_id",
                "left_anti",
            ).localCheckpoint()
            # survivors' sign rows (union minus prior = the new rows;
            # filter to final survivors so the index stays canonical)
            sign_rows = sign_union.join(
                kept.select(F.col("doc_id").alias("id")), "id", "left_semi"
            )
            emb_stats["embedding_pairs"] = n_pairs

        return self._finish(
            kept, ds, sign_rows, lsh_union, obs_in, obs_sh, emb_stats,
            emb_ids=embeddings.select("doc_id") if embeddings is not None else None,
            partial_ids=partial_ids,
        )

    def _finish(
        self, kept, ds, sign_rows, lsh_union, obs_in, obs_sh, emb_stats,
        emb_ids=None, partial_ids=None,
    ) -> dict:
        # crash-replay reconciliation guard (r13 advice): healing assumes
        # the retry re-supplies the same input for the partial ds — the
        # deterministic operators then reproduce the crashed run's
        # survivors and append_once fills only the missing layers. A
        # retry with DIFFERENT input would silently MIX the old partial
        # DOCS rows with the new survivor set (append_once fills gaps,
        # it never reconciles). Cheap detector: every already-persisted
        # partial doc_id must reappear in the recomputed survivors
        # (recomputed ⊇ partial; equality when the crashed run finished
        # its DOCS write). Divergence is a contract breach, not healable.
        if partial_ids is not None:
            orphaned = partial_ids.join(
                kept.select("doc_id"), "doc_id", "left_anti"
            )
            n_orphaned = orphaned.count()
            if n_orphaned:
                sample = [r["doc_id"] for r in orphaned.limit(5).collect()]
                raise CorpusContractError(
                    f"crash-replay for ds={ds} recomputed a survivor set that "
                    f"drops {n_orphaned} doc_id(s) already persisted by the "
                    f"crashed run (sample: {sample}): the retry's input differs "
                    "from the original run's. Re-supply the identical "
                    "docs/embeddings increment, or drop the partial ds's rows "
                    "before re-running with new input."
                )
        # 5. shard + pack the day's survivors for downstream tokenization
        kept = kept.withColumn(
            "shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(self.N_SHARDS)).cast("int")
        )
        kept = assign_packing_bins(
            kept, "n_tokens", self.PACK_BUDGET, order_cols=["doc_id"], partition_cols=["shard"]
        ).withColumn("ds", F.lit(ds))

        # 6. persist — append_once everywhere, so a crashed/replayed run
        # can never duplicate a layer. Config first: every index row that
        # ever exists is covered by a recorded config, while a run refused
        # upstream (budget / coverage guard) bakes nothing. DOCS next:
        # crash healing finds a partial ds through its DOCS rows, so DOCS
        # lands before any index does. The three index appends and the
        # stat counts then run concurrently; the LOG mark waits for all
        # of them.
        self._record_sketch_config()
        self.wh.append_once(kept, self.DOCS, keys=["doc_id"], partition_by=["ds"])

        def fingerprints() -> None:
            self.wh.append_once(
                kept.select("fingerprint_norm", "doc_id"),
                self.FINGERPRINTS,
                keys=["fingerprint_norm"],
            )

        def lsh_index() -> None:
            new_lsh = lsh_union.join(
                kept.select(F.col("doc_id").alias("id")), "id", "left_semi"
            )
            self.wh.append_once(new_lsh, self.LSH_INDEX, keys=["id", "band"])

        def sign_index() -> None:
            if sign_rows is not None:
                self.wh.append_once(sign_rows, self.SIGN_INDEX, keys=["id"])

        def counts() -> tuple[int, int, int]:
            n_kept = kept.count()
            # the embedding-coverage hole, made visible: retained docs
            # with no embedding row this run are in the corpus but NOT in
            # the sign index — future embedding probes cannot match them.
            # With no embeddings at all, that is every kept doc (legal
            # only while the corpus has never started embedding dedup —
            # see run()'s guard).
            unsketched = (
                n_kept
                if emb_ids is None
                else kept.select("doc_id").join(emb_ids, "doc_id", "left_anti").count()
            )
            return n_kept, unsketched, self.wh.read(self.DOCS).count()

        *_, (n_kept, unsketched, corpus_total) = fan_out(
            self.spark, fingerprints, lsh_index, sign_index, counts
        )
        self._mark(ds)
        if partial_ids is not None:
            # the healing masks are consumed; release the pinned
            # localCheckpoint blocks instead of holding them for the
            # session's lifetime (r13 advice)
            partial_ids.unpersist()

        stats = {
            "ds": ds,
            "already_done": False,
            "docs_in": int(obs_in.get["docs_in"]),
            "docs_shingled": int(obs_sh.get["docs_shingled"]),
            "docs_kept": n_kept,
            "docs_kept_without_embedding": unsketched,
            "corpus_total": corpus_total,
            **emb_stats,
        }
        # the day is fully persisted and the stats are plain values — the
        # one legal in-run recycle point
        self._maybe_recycle()
        return stats
