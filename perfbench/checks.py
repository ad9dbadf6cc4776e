"""Output checks on what the connector published.

Every check returns ``(name, ok, detail)``; a failed check counts against
the run's ``failed`` total and makes ``correct`` false.
"""

from __future__ import annotations

from collections import defaultdict

from feed import STREAM
from harness import ConnectorRun


def check_outputs(run: ConnectorRun, expected: dict) -> list[tuple[str, bool, str]]:
    from pyspark.sql import functions as F

    sink = run.sink
    raw = sink.read_messages(deduped=False)
    body_id = F.get_json_object("data", "$._id._data")
    body_op = F.get_json_object("data", "$.operationType")
    shape = raw.agg(
        F.count(F.lit(1)).alias("n"),
        # a body that does not parse yields NULL and so fails this check too
        F.count_if(F.coalesce(body_id != F.col("msg_id"), F.lit(True))).alias("bad_id"),
        F.count_if(
            F.coalesce(
                F.col("subject") != F.concat(F.lit(STREAM + "."), body_op), F.lit(True)
            )
        ).alias("bad_subject"),
    ).first()
    view = (
        sink.read_messages()
        .select("msg_id", "subject", F.sha2("data", 256).alias("sha"), "epoch", "seq_in_epoch")
        .toArrow()
        .to_pydict()
    )
    got = {
        m: (s, h)
        for m, s, h in zip(view["msg_id"], view["subject"], view["sha"])
    }
    want = {m: (s, h) for m, (s, h, _) in expected.items()}
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    differ = sum(1 for m in want.keys() & got.keys() if got[m] != want[m])
    n_view = len(view["msg_id"])
    checks = [
        ("body_msg_id_matches", shape["bad_id"] == 0, f"{shape['bad_id']} bad"),
        ("subject_is_stream_dot_op", shape["bad_subject"] == 0, f"{shape['bad_subject']} bad"),
        (
            "view_equals_expected",
            not missing and not extra and not differ and n_view == len(want),
            f"{len(want)} expected, {n_view} rows, {len(missing)} missing, "
            f"{len(extra)} extra, {differ} differ",
        ),
        ("raw_at_least_deduped", shape["n"] >= n_view, f"raw {shape['n']} deduped {n_view}"),
    ]
    checks += _order_checks(view, expected, total_order=not run.order_within_key)
    published = run.published_total()
    checks.append(
        (
            "nats_published_total_matches",
            published == shape["n"],
            f"registry {published:g}, sink {shape['n']}",
        )
    )
    log, commits = run.timeline()
    uncommitted = [
        l.name for l in run.landings if l.name not in log or log[l.name] not in commits
    ]
    checks.append(("every_file_committed", not uncommitted, f"{len(uncommitted)} not"))
    return checks


def _order_checks(view: dict, expected: dict, total_order: bool):
    """Token order per document key across epochs, and, in total-order mode,
    per epoch (``seq_in_epoch`` follows the resume token)."""
    per_key: dict[str, list] = defaultdict(list)
    per_epoch: dict[int, list] = defaultdict(list)
    for m, e, s in zip(view["msg_id"], view["epoch"], view["seq_in_epoch"]):
        key = expected.get(m, (None, None, "?"))[2]
        per_key[key].append((e, s, m))
        per_epoch[e].append((s, m))
    bad_keys = 0
    for rows in per_key.values():
        ids = [m for _, _, m in sorted(rows)]
        bad_keys += any(a >= b for a, b in zip(ids, ids[1:]))
    checks = [("token_order_per_key", bad_keys == 0, f"{bad_keys} keys out of order")]
    if total_order:
        bad_epochs = 0
        for rows in per_epoch.values():
            ids = [m for _, m in sorted(rows)]
            bad_epochs += any(a >= b for a, b in zip(ids, ids[1:]))
        checks.append(
            ("token_order_per_epoch", bad_epochs == 0, f"{bad_epochs} epochs out of order")
        )
    return checks
