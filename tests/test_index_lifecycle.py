"""Index lifecycle: build → append → delete → merge → expunge.

Every rewrite carries every artifact it does not change: a merge keeps
the deletes, the stored fields and the build metrics of its source;
an expunge of the merged index equals a fresh build of the survivors;
fsck passes on both outputs and names a missing artifact."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tlhop_library_spark.index import (
    IndexBuilder,
    IndexReader,
    MultiFieldIndexReader,
    add_documents,
    build_index,
    delete_documents,
    expunge_deletes,
    merge_index_ranges,
    verify_index,
)

QUERIES = ["bace cada", "informação segurança", "tesa", "dadu cadi bace"]
KW = dict(n_buckets=8, n_ranges=8)


def _rows(df):
    return [
        (r["rank"], r["doc_id"], r["score"])
        for r in df.orderBy("rank").collect()
    ]


def _sorted(df):
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def _statuses(spark, d):
    return {
        r["check"]: r["status"] for r in verify_index(spark, d).collect()
    }


@pytest.fixture(scope="module")
def life(spark, corpus_df, tmp_path_factory):
    base = tmp_path_factory.mktemp("life")
    src = str(base / "src")
    IndexBuilder(spark, src, stored_fields=["url"], **KW).build(
        corpus_df.where(F.col("doc_id") < 600)
    )
    add_documents(spark, src, corpus_df.where(F.col("doc_id") >= 600))
    appended = str(base / "appended")
    shutil.copytree(src, appended)
    gone = sorted(
        r["doc_id"]
        for r in IndexReader(spark, src).search_serve("bace cada", 3).collect()
    )
    delete_documents(spark, src, gone)
    merged = str(base / "merged")
    merge_index_ranges(spark, src, merged, factor=4)
    expunged = str(base / "expunged")
    expunge_deletes(spark, merged, expunged)
    survivors = str(base / "survivors")
    IndexBuilder(spark, survivors, stored_fields=["url"], **KW).build(
        corpus_df.where(~F.col("doc_id").isin(gone))
    )
    return {
        "src": src, "appended": appended, "gone": set(gone),
        "merged": merged, "expunged": expunged, "survivors": survivors,
    }


def test_merge_keeps_deletes_and_ranks(spark, life):
    src = IndexReader(spark, life["src"])
    merged = IndexReader(spark, life["merged"])
    for q in QUERIES:
        for mode in ("exhaustive", "bmw"):
            got = _rows(merged.search(q, 50, mode=mode))
            assert got == _rows(src.search(q, 50, mode=mode)), (q, mode)
            assert not life["gone"] & {d for _, d, _ in got}, (q, mode)


def test_merge_carries_stored_fields_and_metrics(spark, life):
    src = IndexReader(spark, life["src"])
    merged = IndexReader(spark, life["merged"])
    assert _sorted(merged.stored_docs()) == _sorted(src.stored_docs())

    def totals(r):
        row = r.build_metrics().agg(
            F.sum("postings_written"), F.sum("bytes_written")
        ).collect()[0]
        return tuple(row)

    assert totals(merged) == totals(src)


def test_expunge_of_merged_equals_fresh_build_of_survivors(spark, life):
    x = IndexReader(spark, life["expunged"])
    fresh = IndexReader(spark, life["survivors"])
    for q in QUERIES:
        for mode in ("exhaustive", "bmw"):
            assert _rows(x.search(q, 20, mode=mode)) == _rows(
                fresh.search(q, 20, mode=mode)
            ), (q, mode)
    assert _sorted(x.stored_docs()) == _sorted(fresh.stored_docs())

    def dictionary(d):
        return {
            r["term"]: (r["df"], r["cf"])
            for r in spark.read.parquet(d + "/dictionary").collect()
        }

    assert dictionary(life["expunged"]) == dictionary(life["survivors"])


@pytest.mark.parametrize("which", ["merged", "expunged"])
def test_rewrites_pass_fsck(spark, life, which):
    st = _statuses(spark, life[which])
    assert "artifacts" in st
    assert all(v == "ok" for v in st.values()), st


@pytest.mark.parametrize("victim", ["stored", "tombstone_batch"])
def test_fsck_reports_a_missing_artifact(spark, life, tmp_path, victim):
    cp = str(tmp_path / "idx")
    shutil.copytree(life["src"], cp)
    if victim == "stored":
        shutil.rmtree(os.path.join(cp, "stored"))
    else:
        tdir = os.path.join(cp, "tombstones")
        shutil.rmtree(os.path.join(tdir, sorted(os.listdir(tdir))[0]))
    assert _statuses(spark, cp)["artifacts"] == "CORRUPT"


def test_merge_replaces_an_older_index_at_the_target(
    spark, index_dir, tmp_path
):
    """The session index has two segment groups; merging it into a
    copy of itself must not leave the copy's group 1 behind."""
    out = str(tmp_path / "out")
    shutil.copytree(index_dir, out)
    merge_index_ranges(spark, index_dir, out, factor=4)
    assert os.listdir(os.path.join(out, "segments")) == ["bucket_group=0"]
    a, b = IndexReader(spark, index_dir), IndexReader(spark, out)
    for q in QUERIES:
        assert _rows(b.search(q, 10)) == _rows(a.search(q, 10)), q


def test_rewrite_refuses_unknown_artifacts_and_foreign_targets(
    spark, index_dir, tmp_path
):
    src = str(tmp_path / "src")
    shutil.copytree(index_dir, src)
    os.makedirs(os.path.join(src, "future_artifact"))
    with pytest.raises(ValueError, match="future_artifact"):
        merge_index_ranges(spark, src, str(tmp_path / "a"))
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    (foreign / "notes.txt").write_text("keep me")
    with pytest.raises(ValueError, match="not an index"):
        merge_index_ranges(spark, index_dir, str(foreign))
    assert (foreign / "notes.txt").read_text() == "keep me"


def test_combined_fields_after_append_equal_fresh_build(
    spark, corpus_df, index_dir, life, tmp_path
):
    """BM25F combined doc lengths cover the appended batches: two field
    indexes over 600 docs plus a 200-doc append score like fresh
    builds over all 800."""
    title = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 6), " ")
    titles = corpus_df.select("doc_id", title.alias("text"))
    t_app, t_fresh = str(tmp_path / "t_app"), str(tmp_path / "t_fresh")
    build_index(spark, titles.where(F.col("doc_id") < 600), t_app, **KW)
    add_documents(spark, t_app, titles.where(F.col("doc_id") >= 600))
    build_index(spark, titles, t_fresh, **KW)
    appended = MultiFieldIndexReader(
        spark, {"title": t_app, "body": life["appended"]}
    )
    fresh = MultiFieldIndexReader(
        spark, {"title": t_fresh, "body": index_dir}
    )
    for q in ("bace cada", "informação segurança"):
        assert _rows(appended.search_combined_fields(q, k=10)) == _rows(
            fresh.search_combined_fields(q, k=10)
        ), q
