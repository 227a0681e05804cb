import numpy as np

import serve
from spans import Tracer, installed, parse_metric, self_ms, Span


def test_parse_metric_reads_the_total():
    assert parse_metric("3,852,477") == 3852477
    assert parse_metric("59.1 MiB") == 59.1 * (1 << 20)
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "1.5 KiB (512.0 B, 512.0 B, 512.0 B (stage 3.0: task 7))") == 1536.0


def test_self_time_subtracts_covered_children_once():
    root = Span(1, "root", 0.0, None, "r", end=1.0)
    kids = [Span(2, "a", 0.1, 1, "r", end=0.4), Span(3, "b", 0.3, 1, "r", end=0.5),
            Span(4, "c", 0.2, 2, "r", end=0.3)]
    assert abs(self_ms(root, [root, *kids]) - 600.0) < 1e-6


def test_single_count_is_one_job_in_its_span(ctx):
    sc = ctx.spark.sparkContext
    tracer = Tracer(sc)
    sc.parallelize(range(10), 2).count()
    with tracer.span("outer") as outer:
        with tracer.span("phase") as phase:
            sc.parallelize(range(10), 2).count()
    sc.parallelize(range(10), 2).count()
    tracer.collect_spark(ctx.spark)
    assert len(phase.jobs) == 1
    assert phase.tasks == 2
    assert outer.jobs == []


def test_tracing_launches_no_extra_jobs(ctx, monkeypatch):
    """The same requests launch the same Spark jobs with and without the
    tracing wrappers."""
    monkeypatch.setattr(serve, "N_HOSTS", 3)
    st = serve.setup(ctx)
    try:
        rng = np.random.default_rng(1)
        reqs = [serve.request(rng, kind) for kind in serve.TEMPLATES] * 2

        def jobs(tracer):
            j0 = ctx.jobs_launched()
            with installed(serve.wrappers(st, tracer) if tracer else []):
                for i, (path, body) in enumerate(reqs):
                    status, resp = serve.send(st, path, body, f"r{i}", tracer)
                    assert status == 200 and resp["success"]
            return ctx.jobs_launched() - j0

        plain = jobs(None)
        tracer = Tracer(ctx.spark.sparkContext)
        traced = jobs(tracer)
        assert plain > 0 and traced == plain == jobs(None)
        tracer.collect_spark(ctx.spark)
        assert sum(len(s.jobs) for s in tracer.spans) == traced
    finally:
        st.close()
