"""HTTP API source adapter (SURVEY.md §2.1 S1).

The reference fetches one payload per pipeline run with driver-side
``requests.get`` (``First experiment/Claude Opus 4.py:35-43``,
``Third Experiment/GPT 5.py:38-42`` with custom User-Agent, timeouts of
30–120s in ``Second Experiment/GPT 5.py:31``).  That shape is kept for
single-feed runs, but the scale path is ``fetch_url_table``: a table of
URLs fanned out across executors via ``mapInPandas`` (Arrow-batched), so a
million-endpoint crawl parallelizes instead of serializing on the driver.

No live network is required anywhere: the transport is an injectable
``fetcher(url) -> str`` callable, defaulting to stdlib urllib at runtime.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame

DEFAULT_TIMEOUT_S = 60.0


def default_fetcher(url: str, timeout: float = DEFAULT_TIMEOUT_S) -> str:
    """GET a URL and return the body as text; raises on HTTP errors
    (mirrors ``response.raise_for_status()`` at
    ``First experiment/Claude Opus 4.py:38-40``)."""
    import urllib.request

    req = urllib.request.Request(
        url, headers={"User-Agent": "data-pipelines-using-llm-spark/0.1"}
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
        # non-HTTP schemes (file://) report status None
        if resp.status is not None and resp.status >= 400:
            raise OSError(f"HTTP {resp.status} for {url}")
        return resp.read().decode("utf-8")


def fetch_url_table(
    urls: DataFrame,
    url_col: str = "url",
    fetcher: Callable[[str], str] | None = None,
    on_error: str = "null",
    max_retries: int = 0,
) -> DataFrame:
    """Scale path: fetch every URL of a table on the executors.

    ``mapInPandas`` keeps Arrow batching; each task fetches its partition's
    URLs sequentially (repartition the input to tune fan-out).  Transient
    errors retry with bounded exponential backoff (``max_retries``); final
    errors either produce NULL payloads (quality operators surface them)
    or re-raise (``on_error='raise'``).
    """
    import pandas as pd

    from data_pipelines_using_llm_spark.operators.llm import call_with_retry

    if on_error not in ("null", "raise"):
        raise ValueError("on_error must be 'null' or 'raise'")
    base_fetch = fetcher or default_fetcher

    class _OneShot:
        def complete(self, prompts: list[str]) -> list[str]:
            return [base_fetch(u) for u in prompts]

    def fetch(u: str) -> str:
        if max_retries <= 0:
            return base_fetch(u)
        return call_with_retry(_OneShot(), [u], max_retries=max_retries)[0][0]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in urls.schema.fields]
        + ["payload string"]
    )

    def fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for u in pdf[url_col]:
                try:
                    payloads.append(fetch(u))
                except Exception:
                    if on_error == "raise":
                        raise
                    payloads.append(None)
            yield pdf.assign(payload=payloads)

    return urls.mapInPandas(fetch_batches, schema=out_schema)
