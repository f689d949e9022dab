"""bench.py's report fields: what the JSON line says when a part of the
run fails or leaves its band."""

from __future__ import annotations


def test_streaming_error_is_not_host_noise():
    """ADVICE r10: a streaming ERROR is a code failure — it is reported
    under its own streaming_error field, never as a throughput sample."""
    import bench

    v = bench.report_fields({"error": "ValueError: boom"}, {"rows_per_sec": 1.0}, 300.0)
    assert v["streaming_error"] == "ValueError: boom"
    assert "streaming_tws_error" not in v
    # a present-but-slow throughput is a sample, not an error
    v2 = bench.report_fields({"rows_per_sec": 10.0}, {"rows_per_sec": 10.0}, 300.0)
    assert "streaming_error" not in v2
