import hashlib
import re

import gen


def _digest(d, seed: int) -> str:
    cat = gen.catalog(3)
    files = [
        (gen.history(seed, cat, gen.BASE_MS, 60).table(cat), "history"),
        (gen.ingest_batch(seed, 0, cat, gen.BASE_MS, 24).points.table(cat), "batch0"),
        (gen.ingest_batch(seed, 1, cat, gen.BASE_MS, 24).points.table(cat), "batch1"),
    ]
    h = hashlib.sha256()
    for table, name in files:
        path = str(d / f"{name}.parquet")
        gen.write_parquet(table, path)
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    assert _digest(tmp_path / "a", 7) == _digest(tmp_path / "b", 7)


def test_another_seed_gives_other_inputs(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    assert _digest(tmp_path / "a", 7) != _digest(tmp_path / "b", 8)


def test_batch_bookkeeping_matches_the_ingest_rules():
    """Recount a batch with the engine's documented rules (name must match
    ^/\\S+$, at most 1 s in the future, one sample per series and ts)."""
    cat = gen.catalog(4)
    b = gen.ingest_batch(5, 2, cat, gen.BASE_MS, 24)
    p = b.points
    seen = set()
    for name, sid, ts in zip(p.name, p.series, p.ts):
        if not re.fullmatch(r"/\S+", name) or ts > b.now_ms + 1000:
            continue
        seen.add((name, cat[sid].labels, int(ts)))
    assert len(seen) == b.accepted
    assert b.dropped_invalid and b.dropped_future and b.dropped_duplicate
    assert len(p) == (b.accepted + b.dropped_invalid + b.dropped_future
                      + b.dropped_duplicate)
    late = sum(ts < b.now_ms - gen.DAY_MS for ts in p.ts)
    assert late > 0
    counters = [s for s in range(len(cat)) if cat[s].kind == "counter"]
    assert counters and any(cat[s].kind == "string" for s in p.series)
