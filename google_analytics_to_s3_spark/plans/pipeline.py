"""EP3 — the daily sessionization pipeline, end to end (SURVEY.md §3).

Reference: ``pipeline()`` (functions/sessionization/main.py:1155-1290).
Stage order is preserved exactly — in particular the hit-type filter
(P3) runs *after* session flags are computed, so timing hits influence
session boundaries (reference main.py:1157-1160), and visit ids are
computed on the filtered set.

Plan shape (verify with ``.explain``): one hash exchange on
``body_cid`` feeds every window; attribution/URL columns are pure
projections; the product unpivot is an in-place explode (no join); the
only other exchange is the touchpoint recomputation keyed on
``fullVisitorId``. All six marts derive from one hit-grain export
(:func:`hit_export`), so :func:`daily_marts` takes the export rather
than raw hits: the daily CLI caches the export serialized
(``operators/pins.serialized_cache``), builds the marts from it and
writes them, so the day's JSONL is parsed and sessionized once instead
of once per mart. :func:`run_daily_pipeline` is the
uncached composition of the two.

Scale departure (SURVEY §7.3.3): the reference re-reads and recomputes
the entire session history every run. ``run_daily_pipeline`` keeps that
faithful mode, but at 100 TB you'd maintain an incremental per-visitor
touchpoint summary (one row per visitor: ordered sources array) and
merge today's sessions into it — O(visitors) state instead of
O(all-history-sessions) recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import ga
from ..functions.traffic import (
    traffic_ad_content,
    traffic_campaign,
    traffic_keyword,
    traffic_medium,
    traffic_source,
)
from ..functions.url import landing_page, page_path_levels, url_host, url_path
from ..operators.attribution import recompute_touchpoints, with_touchpoints
from ..operators.exports import (
    export_events,
    export_items,
    export_pageviews,
    export_products,
    export_sessions,
    export_table,
    export_transactions,
)
from ..operators.sessionize import (
    with_session_flags,
    with_session_revenue,
    with_visit_ids,
)
from ..operators.unpivot import unpivot_products

DROPPED_HIT_TYPES = ["adtiming", "timing"]  # P3, main.py:1160


def prepare_hits(df: DataFrame) -> DataFrame:
    """F1 + clock columns: GA360 hit type, epoch-ms long, timestamp."""
    return (
        df.withColumn("hits_type", ga.hits_type("body_t"))
        .withColumn("received_ms", F.expr("try_cast(received_at_apig as long)"))
        .withColumn("ts", F.timestamp_millis(F.col("received_ms")))
    )


def sessionized_hits(
    df: DataFrame, hot_visitor_min_hits: int | None = None
) -> DataFrame:
    """W1-W7 + P3 + A2, in reference stage order.

    ``hot_visitor_min_hits`` enables the bot-skew remedy (SURVEY §7.3
    risk 5): visitors with at least that many hits are split out via
    ``split_hot_cold`` and sessionized in their own branch. Gap
    sessionization is inherently sequential per visitor, so a hot key
    cannot be salted — but isolating bots means (a) the cold branch's
    visitor exchange is balanced again and (b) each bot hashes into its
    own exchange where the handful of hot keys spread over all reducers
    with no normal traffic queued behind them. Windows are per-visitor
    and each visitor lives wholly in one branch, so the union equals the
    single-pass output row-for-row (asserted in
    tests/test_skew_attribution.py). Costs one extra counting pass over
    the source; the hot-key set is broadcast.
    """
    if hot_visitor_min_hits is not None:
        from ..operators.skew import split_hot_cold

        cold, hot = split_hot_cold(df, "body_cid", hot_visitor_min_hits)
        return sessionized_hits(cold).unionByName(sessionized_hits(hot))
    df = with_session_flags(
        df, visitor_col="body_cid", ts_col="received_ms",
        tiebreak_cols=("message_id",),
    )
    df = df.filter(~F.col("body_t").isin(DROPPED_HIT_TYPES))
    df = with_visit_ids(
        df, visitor_col="body_cid", ts_col="received_ms",
        tiebreak_cols=("message_id",),
    )
    return with_session_revenue(df, visitor_col="body_cid", revenue_col="body_tr")


def attributed_hits(df: DataFrame) -> DataFrame:
    """F2-F11: traffic-source, URL, and action columns — all projections."""
    return df.withColumns(
        {
            "traffic_source_source": traffic_source(),
            "traffic_source_campaign": traffic_campaign(),
            "traffic_source_medium": traffic_medium(),
            "landing_page": landing_page("is_new_session", "body_dl"),
            "page_path": url_path("body_dl"),
            "hostname": url_host("body_dl"),
            "page_path_levels": page_path_levels("body_dl"),
            "action_type": ga.action_type("body_pa"),
        }
    ).withColumns(
        {
            # keyword consumes the medium column (reference main.py:1190)
            "traffic_source_keyword": traffic_keyword(
                medium="traffic_source_medium"
            ),
            "traffic_source_ad_content": traffic_ad_content(),
        }
    )


def product_hits(df: DataFrame) -> DataFrame:
    """§2.8 unpivot + F12 product revenue."""
    df = unpivot_products(df)
    return df.withColumn(
        "product_revenue",
        F.when(
            F.col("action_type") == "6",
            F.expr("try_cast(prqt as double) * try_cast(prpr as double)"),
        ),
    )


def hit_export(
    df: DataFrame, hot_visitor_min_hits: int | None = None
) -> DataFrame:
    """Full hit-grain GA360 export (P1)."""
    return export_table(
        df.transform(prepare_hits)
        .transform(lambda d: sessionized_hits(d, hot_visitor_min_hits))
        .transform(attributed_hits)
        .transform(product_hits)
    )


def daily_marts(
    export: DataFrame, session_history: DataFrame | None = None
) -> dict[str, DataFrame]:
    """The six marts (main.py:1285-1290) over one hit-grain export:
    sessions (multichannel, with touchpoints over history ∪ today),
    pageviews, events, products, transactions, items."""
    today_sessions = export_sessions(export)
    if session_history is not None:
        sessions = recompute_touchpoints(session_history, today_sessions)
    else:
        sessions = with_touchpoints(today_sessions)
    return {
        "sessions": sessions,
        "pageviews": export_pageviews(export),
        "events": export_events(export),
        "products": export_products(export),
        "transactions": export_transactions(export),
        "items": export_items(export),
    }


def run_daily_pipeline(
    hits: DataFrame,
    session_history: DataFrame | None = None,
    hot_visitor_min_hits: int | None = None,
) -> dict[str, DataFrame]:
    """Raw hits to the six marts: :func:`daily_marts` over
    :func:`hit_export`."""
    return daily_marts(hit_export(hits, hot_visitor_min_hits), session_history)
