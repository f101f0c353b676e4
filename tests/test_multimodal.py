"""Multimodal plumbing: opaque binary payloads through one Arrow pass."""

import numpy as np

from elasticsearch_approx_plugin_spark.operators.multimodal import (
    media_byte_stats,
    synth_media,
)


def test_media_byte_stats(spark):
    """Per-payload stats match a direct computation, and determinism
    holds across partitionings."""
    media = synth_media(spark, 40)
    got = {
        r["media_id"]: (r["n_bytes"], r["mean_millionths"])
        for r in media_byte_stats(media).collect()
    }
    rows = media.select("media_id", "payload").collect()
    for r in rows:
        buf = np.frombuffer(bytes(r["payload"]), dtype=np.uint8)
        assert got[r["media_id"]] == (buf.size, int(buf.sum()) * 1_000_000 // buf.size)
    got2 = {
        r["media_id"]: (r["n_bytes"], r["mean_millionths"])
        for r in media_byte_stats(media.repartition(7)).collect()
    }
    assert got == got2
