"""Guards on the scale-up generator (tools/make_sf1.py): its text
mutation, and the DuckDB views the oracle tools build over its output.

The sf-N study data is only honest if cross-replica token overlap is
LOW for every replica pair: a suffix collision between two replicas
plants exact cross-replica duplicates, which quadratically inflates
dedup pair counts and corrupts the scale study's ratios (the bug this
pins existed for replicas >= 26, where the one-letter suffix wrapped:
replica 27 collided with replica 1).
"""

from __future__ import annotations

from make_sf1 import mutate_text

TEXT = "the quick brown fox jumps over the lazy dog again and again"


def _tokens(s: str) -> set[str]:
    out, word = set(), []
    for ch in s:
        if ch.isalpha():
            word.append(ch)
        else:
            if word:
                out.add("".join(word))
                word = []
    if word:
        out.add("".join(word))
    return out


def test_replica_zero_is_identity():
    assert mutate_text(TEXT, 0) == TEXT


def test_mutation_is_deterministic_and_type_consistent():
    a = mutate_text(TEXT, 3)
    assert a == mutate_text(TEXT, 3)
    # identical token types mutate identically: 'the' and 'again'
    # each appear twice and must agree with themselves
    toks = a.split()
    assert toks[0] == toks[6]  # both 'the' slots
    assert toks[9] == toks[11]  # both 'again' slots


def test_no_cross_replica_suffix_collision_through_30():
    """Every replica pair in a 30-replica (sf3) build must produce
    DIFFERENT mutated text — a collision means planted exact
    cross-replica duplicates."""
    outputs = [mutate_text(TEXT, i) for i in range(1, 30)]
    assert len(set(outputs)) == len(outputs), "suffix wrap collision"


def test_cross_replica_token_overlap_is_low():
    """~40% of token types mutate per replica, so any two replicas
    share only the ~60% unmutated types (the same types in each, since
    selection depends only on the token) — overlap must stay well
    below the within-replica identity and, in particular, below the
    0.6 dedup threshold used by the study's Jaccard family."""
    base = _tokens(mutate_text(TEXT, 1))
    for j in (2, 13, 27, 29):
        other = _tokens(mutate_text(TEXT, j))
        jac = len(base & other) / len(base | other)
        assert jac < 0.6, (j, jac)


def test_sf1_replica_outputs_unchanged():
    """Replicas 1..25 keep the historical one-letter suffix so the
    recorded sf1 studies stay reproducible from this tree."""
    assert mutate_text("zebra", 1).endswith(("qb",)) or mutate_text("zebra", 1) == "zebra"
    # the suffix for replica < 26 is exactly two chars ('q' + letter)
    mutated = [w for w in mutate_text(TEXT, 5).split() if w not in TEXT.split()]
    assert all(len(w) - len(w.rstrip("abcdefghijklmnopqrstuvwxyz")) >= 0 for w in mutated)
    assert all(w[-2] == "q" for w in mutated)


def test_duck_views_rebuild_epoch_ns_events(tmp_path, monkeypatch, sf_dir):
    """make_sf1 writes events.ts as epoch-ns BIGINT; the oracle tools'
    DuckDB views must expose it as the fixture's TIMESTAMP values, so
    the events oracles run unchanged on generated data."""
    import duckdb

    import make_sf1
    from check_oracle import compare, duck_views
    from map_reduce_spark.registry import load_all
    from map_reduce_spark.sources import TABLES

    monkeypatch.setattr(make_sf1, "SRC", sf_dir)
    make_sf1.scale_relational(duckdb.connect(), str(tmp_path), 1)
    for t in TABLES:
        if not (tmp_path / f"{t}.parquet").exists():
            (tmp_path / f"{t}.parquet").symlink_to(f"{sf_dir}/{t}.parquet")
    raw = duckdb.connect().execute(
        f"SELECT typeof(ts) FROM '{tmp_path}/events.parquet' LIMIT 1"
    )
    assert raw.fetchone() == ("BIGINT",)

    gen, ref = duckdb.connect(), duckdb.connect()
    duck_views(gen, str(tmp_path))
    duck_views(ref, sf_dir)
    assert gen.execute("SELECT typeof(ts) FROM events LIMIT 1").fetchone() == ("TIMESTAMP",)
    (n_events,) = ref.execute("SELECT count(*) FROM events").fetchone()
    (n_same,) = gen.execute(
        f"""SELECT count(*) FROM events g
            JOIN '{sf_dir}/events.parquet' f USING (event_id)
            WHERE g.ts = f.ts"""
    ).fetchone()
    assert n_same == n_events > 0

    queries = load_all()
    for name in ("events_sliding_1h_30m", "events_hypertable_rollup"):
        sql = queries[name].oracle_sql
        assert compare(name, gen.execute(sql).df(), ref.execute(sql).df()) == []
