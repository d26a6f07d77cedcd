"""The benchmark's workloads: input sizes and crawl settings.

Sized for a 4-core box with ~15 GB of RAM. Every run is a fresh
process, so it pays the JVM launch and the cold first jobs: a cold
set-up (session + resolve + initialize) takes 20-30 s and a crawl
round 5-15 s whatever its size, because a round is dominated by ~40
Spark job launches (halving live_proxy's round size left its parse and
dedup phase times unchanged). So the crawls are short — discover two
rounds, live_proxy three — which keeps 48 runs of the pair inside the
benchmark's time budget. Discover lowers the checkpoint's compaction
threshold to 3 delta files, which the seeding commit plus two rounds
reach, so every discover run still compacts.
"""

from __future__ import annotations

from dataclasses import dataclass, field

N_HOSTS = 40  # webgen's default host count: one hot host, the rest ruled or not
N_ERROR_SEEDS = 6  # seeds that end in an engine error (redirect loop, dead link)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_pages: int
    min_spans: int  # page weight: spans per page = min_spans + [0, span_spread)
    span_spread: int
    n_seeds: int
    robots: bool
    live: bool
    crawl: dict = field(default_factory=dict)  # CrawlConfig overrides
    compact_every: int = 8

    def key(self, seed: int) -> str:
        """Fixture cache key: every input property plus the seed."""
        return (
            f"{self.name}-s{seed}-p{self.n_pages}-h{N_HOSTS}"
            f"-m{self.min_spans}x{self.span_spread}-n{self.n_seeds}"
            f"e{N_ERROR_SEEDS}-r{int(self.robots)}l{int(self.live)}"
            f"-" + "-".join(f"{k}{v}" for k, v in sorted(self.crawl.items()))
        )


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="discover",
            why=(
                "link discovery from seeds over a light web with robots rules: "
                "per-round fixed costs (general dequeue, whole-web fetch scan, "
                "broadcast dedup, commit, compaction) dominate"
            ),
            n_pages=3_000, min_spans=3, span_spread=6,
            n_seeds=200, robots=True, live=False,
            crawl=dict(max_rounds=2, round_budget=150),
            compact_every=3,
        ),
        Workload(
            name="live_proxy",
            why=(
                "fetch_mode=live through a loopback origin/proxy, FIFO dequeue, bloom "
                "dedup: live_fetch and middlewares over real sockets; round time is "
                "fixed per-round cost, not per-URL work"
            ),
            n_pages=1_000, min_spans=60, span_spread=80,
            n_seeds=300, robots=False, live=True,
            # seen_broadcast_max_rows below the seeded seen set puts every
            # round's dedup on the sharded-bloom path, as at 10^10 URLs
            crawl=dict(max_rounds=3, round_budget=300, seen_broadcast_max_rows=200),
        ),
    )
}
