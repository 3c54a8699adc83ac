"""Streamlit app shell — the reference dashboard rebuilt over the engine
(``/root/reference/streamlit/streamlit_app.py:296-1028``, 8 tabs at
``:358-367``, auto-refresh loop ``:1024-1026``).

Import-guarded: streamlit is not installed in the build container, so this
module exposes ``main()`` that raises a clear error without it, while the
QUERY layer it renders (``dashboard.py``) is fully tested engine-side.
Run with::

    streamlit run -m streamlit_projet_spark_streaming_spark.serving.app

Differences from the reference, by design (SURVEY.md §3/§4):
- every aggregation runs in Spark over the silver table; pandas exists
  only at the chart boundary (``.toPandas()`` on chart-sized frames),
  where the reference pulled 10k raw rows client-side;
- the four preference views read the gold tables the streaming layer
  recomputes in full on each trigger (``consumer.refresh_gold``) instead
  of re-querying a warehouse;
- the refresh loop is the same poll-and-rerun shape with the reference's
  5-60 s slider (default 15 s, ``streamlit_app.py:307``).
"""

from __future__ import annotations

import os
import time

from ..streaming.consumer import GOLD_BUILDERS

try:  # pragma: no cover - exercised only where streamlit is installed
    import streamlit as st

    HAVE_STREAMLIT = True
except ImportError:  # pragma: no cover
    st = None
    HAVE_STREAMLIT = False

SILVER_DIR = os.environ.get("ENGINE_SILVER_DIR", "/tmp/engine/silver")
GOLD_DIR = os.environ.get("ENGINE_GOLD_DIR", "/tmp/engine/gold")

#: Reference tab list (``streamlit_app.py:358-367``).
TABS = (
    "Vue d'ensemble",
    "Analyse par âge",
    "Analyse par genre",
    "Analyse par localisation",
    "Analyse combinée",
    "Clients VIP",
    "Anomalies",
    "Données brutes",
)

#: The four preference views the tabs render, in tab order: the ``v_``
#: tables of the Consumer's gold (``consumer.GOLD_BUILDERS``).
GOLD_VIEWS = tuple(name for name in GOLD_BUILDERS if name.startswith("v_"))


def _spark():
    from ..session import get_spark

    return get_spark(app_name="engine-dashboard")


def _load_silver(spark):
    from ..streaming.consumer import enrich_schema

    return spark.read.schema(enrich_schema(spark)).parquet(SILVER_DIR)


def _load_gold_views(spark):
    """Per-view degradation like the reference (``streamlit_app.py:231-234``):
    a missing/unreadable gold table warns and returns None for THAT view
    while the others keep rendering. The isolation logic lives in
    ``dashboard.load_gold_snapshot`` (streamlit-free, pytest-covered)."""
    from .dashboard import load_gold_snapshot

    return load_gold_snapshot(
        spark,
        GOLD_DIR,
        GOLD_VIEWS,
        warn=lambda name, exc: st.warning(f"Vue {name} indisponible: {exc}"),
    )


def main() -> None:
    if not HAVE_STREAMLIT:
        raise RuntimeError(
            "streamlit is not installed in this environment; the query "
            "layer lives in serving/dashboard.py and is tested without it"
        )
    from . import dashboard as D

    st.set_page_config(page_title="Analyse Shopping Temps Réel", layout="wide")
    st.title("Analyse Shopping Temps Réel")

    refresh = st.sidebar.slider("Intervalle (secondes)", 5, 60, 15)
    spark = _spark()
    silver = _load_silver(spark)
    snap = {k: df.toPandas() for k, df in D.dashboard_snapshot(silver).items()}

    tabs = st.tabs(list(TABS))
    with tabs[0]:
        st.dataframe(snap["overview_metrics"])
        st.line_chart(snap["hourly_series"].set_index("hour"))
        st.bar_chart(snap["category_distribution"].set_index("category"))
        st.bar_chart(snap["category_revenue"].set_index("category"))
        st.bar_chart(snap["amount_histogram"].set_index("bin"))
    gold_views = _load_gold_views(spark)
    for tab, view in zip(tabs[1:5], GOLD_VIEWS):
        with tab:
            gold = gold_views[view]
            if gold is not None:
                st.dataframe(gold.toPandas())
    with tabs[5]:
        st.dataframe(snap["vip_premium_analysis"])
        st.dataframe(snap["segment_revenue"])
    with tabs[6]:
        st.dataframe(snap["anomaly_analysis"])
    with tabs[7]:
        st.dataframe(snap["latest_orders"])

    time.sleep(refresh)
    st.rerun()


if __name__ == "__main__":
    main()
