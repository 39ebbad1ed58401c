"""Model-based test of the snapshot store: random additive-merge command
sequences are replayed against a plain Python dict model, and EVERY
version ever committed must still read back equal to the model's
snapshot at that version — time travel, COW carry-forward, and additive
merge checked together under arbitrary workloads."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


batch_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # user_id
        st.integers(min_value=-50, max_value=50),  # delta total
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(batch_strategy, min_size=1, max_size=3))
def test_snapshot_store_matches_dict_model(spark, tmp_path_factory, batches):
    from movie_data_transformer_spark.sinks.snapshot import SnapshotTable

    # a fresh dir per example: every example commits from version 1
    root = str(tmp_path_factory.mktemp("snapmodel"))
    stt = SnapshotTable(spark, root, n_buckets=4)

    def to_df(batch):
        # collapse duplicate users inside a batch the way groupBy would
        agg: dict[int, tuple[int, int]] = {}
        for u, d in batch:
            t, n = agg.get(u, (0, 0))
            agg[u] = (t + d, n + 1)
        rows = [(u, t, n) for u, (t, n) in sorted(agg.items())]
        return spark.createDataFrame(rows, "user_id long, total long, n long")

    model: dict[int, dict[int, tuple[int, int]]] = {}
    state: dict[int, tuple[int, int]] = {}
    for i, batch in enumerate(batches):
        for u, d in batch:
            t, n = state.get(u, (0, 0))
            state[u] = (t + d, n + 1)
        version = i + 1
        if version == 1:
            stt.commit_full(to_df(batch), "user_id", version=1)
        else:
            stt.merge_additive(
                to_df(batch), "user_id", ["total", "n"], version - 1, version
            )
        model[version] = dict(state)

    # EVERY committed version must still read back as its model snapshot
    for version, snap in model.items():
        got = {
            r.user_id: (r.total, r.n) for r in stt.read(version).collect()
        }
        assert got == snap, f"version {version}"
