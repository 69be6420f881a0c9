"""The benchmark's workloads: one closed-loop client, one query in flight.

Each query classifies one test batch against the whole train side:
``knn_join`` (k=5) followed by ``majority_vote`` -- the body of
``knn_classify`` -- collected on the driver so every prediction can be
checked. Each workload puts most of a query's time in a different layer of
the KNN core, so a change to one layer should move one workload and leave
the others alone:

- ``har561_fastdtw``: the paper's headline query (561-point series, faithful
  FastDTW, the broadcast-kernel executor). The DTW kernel does most of the
  work; the rest is the per-call stats job, train collect and broadcast.
- ``euclid_default``: Euclidean distance through the default strategy -- the
  declarative broadcast cross join, SQL fold, WindowGroupLimit top-k and
  vote shuffle. All JVM, no Python kernel.
"""

from __future__ import annotations

from dataclasses import dataclass

K = 5


@dataclass(frozen=True)
class Workload:
    name: str
    length: int  # points per series
    n_train: int
    batch: int  # test series per query
    n_batches: int  # the test pool is n_batches * batch series, cycled
    metric: str  # "fastdtw" (radius 1) or "euclidean"
    strategy: "str | None"  # None = the engine's default strategy

    @property
    def n_test(self) -> int:
        return self.batch * self.n_batches

    @property
    def pairs_per_query(self) -> int:
        return self.batch * self.n_train

    def join_kwargs(self) -> dict:
        kw = {"metric": self.metric, "k": K}
        if self.strategy is not None:
            kw["strategy"] = self.strategy
        return kw


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "har561_fastdtw", length=561, n_train=600, batch=16, n_batches=4,
            metric="fastdtw", strategy="kernel",
        ),
        Workload(
            "euclid_default", length=64, n_train=2000, batch=60, n_batches=8,
            metric="euclidean", strategy=None,
        ),
    )
}
