"""CorpusPipeline.run overlaps its text and embedding near-dup stages and
fans out the index appends once DOCS has landed. The overlap must keep
the sequential result, a failing stage must not leave its sibling
running, a replay must converge to a clean run, and every branch job must
keep the caller's job group and tags."""

from __future__ import annotations

import time
import uuid

import pytest

from batch_data_pipeline_exercise_spark.obs import measure
from batch_data_pipeline_exercise_spark.operators import similarity
from batch_data_pipeline_exercise_spark.plans.corpus_pipeline import CorpusPipeline
from tests.test_corpus_pipeline import (
    DAY1_DOCS,
    DAY1_EMB,
    DAY2_DOCS,
    DAY2_EMB,
    PARA_A,
    PARA_D,
    _df,
    _edf,
    _vec,
)

D1, D2 = "2021-03-01", "2021-03-02"


def _kept(cp, ds):
    return {r["doc_id"] for r in cp.wh.read(cp.DOCS).filter(f"ds = '{ds}'").collect()}


def _tables(cp):
    return {
        t: sorted(map(tuple, cp.wh.read(t).collect()))
        for t in CorpusPipeline.MAINTAINED_TABLES
    }


def test_embedding_pairs_touching_text_drops_are_removed(spark, tmp_path):
    # A (21) is a text near-dup of retained P (1); B (22) is unrelated
    # text carrying A's exact vector. Run one after the other, the text
    # stage drops A before the embedding stage sees it, so B has no
    # embedding partner and stays. The overlapped embedding stage does
    # see (A, B); without removing that pair, the component {A, B} would
    # have A as a non-new member and B would drop with it.
    cp = CorpusPipeline(spark, str(tmp_path / "wh"))
    cp.run(_df(spark, [(1, PARA_A)]), D1, embeddings=_edf(spark, [(1, _vec(0))]))
    docs = [(21, PARA_A.replace("calm morning", "quiet evening")), (22, PARA_D)]
    s2 = cp.run(_df(spark, docs), D2, embeddings=_edf(spark, [(21, _vec(3)), (22, _vec(3))]))
    assert _kept(cp, D2) == {22}
    assert s2["docs_kept"] == 1
    assert s2["embedding_pairs"] == 0
    sketched = {r["id"] for r in cp.wh.read(cp.SIGN_INDEX).collect()}
    assert sketched == {1, 22}


def test_failed_embedding_stage_waits_for_text_stage_and_replay_converges(
    spark, tmp_path, monkeypatch
):
    cp = CorpusPipeline(spark, str(tmp_path / "wh"))
    cp.run(_df(spark, DAY1_DOCS), D1, embeddings=_edf(spark, DAY1_EMB))

    text_done: list[float] = []
    real_dup_drops = CorpusPipeline._dup_drops

    def timed_dup_drops(self, *args, **kwargs):
        # the text stage's last step: clustering its verified pairs
        drops = real_dup_drops(self, *args, **kwargs).localCheckpoint()
        text_done.append(time.monotonic())
        return drops

    def failing_embedding_pairs(*args, **kwargs):
        raise RuntimeError("injected embedding stage failure")

    monkeypatch.setattr(CorpusPipeline, "_dup_drops", timed_dup_drops)
    monkeypatch.setattr(similarity, "incremental_embedding_pairs", failing_embedding_pairs)
    with pytest.raises(RuntimeError, match="injected embedding stage failure"):
        cp.run(_df(spark, DAY2_DOCS), D2, embeddings=_edf(spark, DAY2_EMB))
    raised = time.monotonic()
    # the embedding stage fails at once; the text stage ran to the end first
    assert len(text_done) == 1 and text_done[0] <= raised
    assert _kept(cp, D2) == set()
    assert not cp._done(D2)
    monkeypatch.undo()

    # replaying the day equals a warehouse that never failed
    s2 = cp.run(_df(spark, DAY2_DOCS), D2, embeddings=_edf(spark, DAY2_EMB))
    assert s2["docs_kept"] == 1
    clean = CorpusPipeline(spark, str(tmp_path / "clean_wh"))
    clean.run(_df(spark, DAY1_DOCS), D1, embeddings=_edf(spark, DAY1_EMB))
    assert clean.run(_df(spark, DAY2_DOCS), D2, embeddings=_edf(spark, DAY2_EMB)) == s2
    assert _tables(cp) == _tables(clean)


def test_branch_jobs_keep_the_callers_job_group_and_tags(spark, tmp_path):
    cp = CorpusPipeline(spark, str(tmp_path / "wh"))
    sc = spark.sparkContext

    def marker_job() -> int:
        (job,) = measure(spark, sc.parallelize([1]).count)[1]["jobs"]
        return job

    group, tag = f"corpus-run-{uuid.uuid4().hex}", f"corpus-run-tag-{uuid.uuid4().hex}"
    before = marker_job()
    sc.setJobGroup(group, "corpus run under test")
    sc.addJobTag(tag)
    try:
        cp.run(_df(spark, DAY1_DOCS), D1, embeddings=_edf(spark, DAY1_EMB))
    finally:
        sc.removeJobTag(tag)
        sc._jsc.clearJobGroup()
    after = marker_job()

    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    # job ids are handed out in submission order, so the ids between the
    # two markers are exactly the jobs started during the call
    assert in_group == set(range(before + 1, after))
    store = sc._jsc.sc().statusStore()
    untagged = [j for j in in_group if not store.job(j).jobTags().contains(tag)]
    assert untagged == []
