"""Sample summaries shared by the runner, the checks and the compare script."""
import statistics


def tail_rank(n):
    """Index of the reported tail in n sorted samples: the highest rank with
    at least ten samples beyond it, or with half the samples beyond it when
    there are fewer than 21."""
    return n - 1 - min(10, (n - 1) // 2)


def summary(xs):
    """Median, tail (see `tail_rank`), the tail's percentile and the count."""
    xs = sorted(xs)
    if not xs:
        return {"p50": 0.0, "tail": 0.0, "tail_pct": 0.0, "n": 0}
    i = tail_rank(len(xs))
    return {"p50": statistics.median(xs), "tail": xs[i],
            "tail_pct": round(100.0 * i / max(len(xs) - 1, 1), 1), "n": len(xs)}
