"""REST-ingest record extraction (SURVEY.md §2.1 S4/S5).

The reference scrapes reddit.com's public JSON listings in a driver
process and pushes normalized dicts to Kafka
(`scraper/kafka_producer.py:155-317`). Network fetching is an
operational concern outside the engine; what the engine owns is the
**post record normalization**, which this module implements as a pure
function over raw listing payloads — testable without any network,
pluggable under any fetch loop (`sources/pyds.py`'s REST source).
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any


def _iso(epoch: float | None) -> str | None:
    if epoch is None:
        return None
    return datetime.fromtimestamp(float(epoch), tz=timezone.utc).replace(
        tzinfo=None
    ).isoformat()


def extract_post(raw: dict[str, Any], scraped_at: str) -> dict[str, Any]:
    """S4/S5 normalization (`scraper/kafka_producer.py:277-297`):
    listing child -> posts-schema dict, with the reference's defaults
    (score 0, upvote_ratio 0, empty selftext, permalink absolutized)."""
    created = raw.get("created_utc")
    return {
        "type": "post",
        "id": raw.get("id"),
        "title": raw.get("title"),
        "author": raw.get("author"),
        "subreddit": raw.get("subreddit"),
        "score": int(raw.get("score") or 0),
        "upvote_ratio": float(raw.get("upvote_ratio") or 0.0),
        "num_comments": int(raw.get("num_comments") or 0),
        "created_utc": float(created) if created is not None else None,
        "created_date": _iso(created),
        "selftext": raw.get("selftext") or "",
        "url": raw.get("url"),
        "permalink": "https://reddit.com" + (raw.get("permalink") or ""),
        "link_flair_text": raw.get("link_flair_text"),
        "scraped_at": scraped_at,
    }
