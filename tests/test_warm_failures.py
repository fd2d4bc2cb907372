"""The optional warm-ups never raise, but report each failure once on
stderr, naming what failed."""

from text_indexing_and_retrieval_system_spark import session


class _Ok:
    def count(self):
        return 0


def test_warm_suite_shapes_reports_failing_entry(spark, monkeypatch, capsys):
    import __spark_entry__ as entry_mod

    def boom(spark, path):
        raise RuntimeError("synthetic warm failure")

    class Entries(dict):
        def __missing__(self, name):
            return lambda spark, path: _Ok()

    monkeypatch.setattr(entry_mod, "queries", lambda: Entries(bm25_topk=boom))
    session.warm_suite_shapes(spark)
    err = capsys.readouterr().err
    assert err.count("synthetic warm failure") == 1
    assert "warm_suite_shapes[bm25_topk]" in err
    assert "tfidf_topk" not in err


def test_warm_build_path_reports_failure(spark, monkeypatch, capsys):
    from text_indexing_and_retrieval_system_spark.sources import transcripts

    def boom(*args, **kw):
        raise RuntimeError("synthetic build warm failure")

    monkeypatch.setattr(transcripts, "generate_transcripts", boom)
    session.warm_build_path(spark)
    err = capsys.readouterr().err
    assert err.count("synthetic build warm failure") == 1
    assert "warm_build_path" in err
