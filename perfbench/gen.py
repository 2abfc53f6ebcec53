"""Seeded telemetry-event generator for the benchmark.

Events follow the `events` table schema (event_id, ts, user_id, event_type,
value, props) and are written as topic files in the Kafka-shaped record
contract of `graft.sources.Topic`: one JSON object per line with `key`
(the device id as a string), `value` (the event as a JSON string, `ts` in
epoch microseconds) and `timestamp` (epoch microseconds).

The traffic shape comes from `traffic.json`, the realised statistics of
the sf0.1 `events` table (see traffic.py): the device count, the devices
with a device-history row (ids below `MAPPED_USERS`, the bound of
`graft.pipeline.Dims.deviceHistory`; the rest are orphans), the Zipf
skew of events over devices, the event-type mix, the value and `props`
distributions and the event-time gap. That table has no re-sent and no
out-of-order events, so those two shares are assumptions of this module
(RESEND_SHARE, OOO_SHARE); out-of-order delays stay far inside the
48-hour dedup watermark of the streaming chain.

Everything is drawn from one `random.Random(seed)`, so the same seed gives
byte-identical files.
"""
import bisect
import json
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "traffic.json")) as _f:
    PROFILE = json.load(_f)

MAPPED_USERS = 140            # graft.pipeline.Dims.MappedUsers
EVENT_TYPES = sorted(PROFILE["event_type_shares"])
TYPE_WEIGHTS = [PROFILE["event_type_shares"][t] for t in EVENT_TYPES]
BASE_TS_US = 1705190400 * 1_000_000   # 2024-01-14 00:00 UTC
MAX_DELAY_US = 2 * 3600 * 1_000_000    # out-of-order delay, << 48 h
DUP_WINDOW = 500                       # a re-send repeats one of the last N
# Assumptions (the profiled table has neither): small shares that give the
# dedup state and the watermark work on every trigger.
RESEND_SHARE = 0.02
OOO_SHARE = 0.05


class Shape:
    """The knobs one stream fixes; only the random draws vary by seed.
    Events are spaced in event time by exponential gaps of mean `gap_s`."""

    def __init__(self, devices, mapped_share, zipf_s, dup_share, ooo_share,
                 gap_s):
        if not 0 < mapped_share <= 1:
            raise ValueError("mapped_share must be in (0, 1]")
        if round(devices * mapped_share) > MAPPED_USERS:
            raise ValueError("more mapped devices than the history dim has")
        self.devices = devices
        self.mapped_share = mapped_share
        self.zipf_s = zipf_s
        self.dup_share = dup_share
        self.ooo_share = ooo_share
        self.gap_s = gap_s


class Generator:
    """A stream of events; `take(n)` continues where the last call ended,
    so consecutive slices form one event-time-ordered stream."""

    def __init__(self, seed, shape, first_event_id=0, start_us=BASE_TS_US):
        self.rng = random.Random(seed)
        self.shape = shape
        n_mapped = round(shape.devices * shape.mapped_share)
        mapped = self.rng.sample(range(MAPPED_USERS), n_mapped)
        orphans = [MAPPED_USERS + i for i in range(shape.devices - n_mapped)]
        self.devices = mapped + orphans
        self.mapped = set(mapped)
        self.rng.shuffle(self.devices)      # Zipf rank order
        weights = [1.0 / (r + 1) ** shape.zipf_s
                   for r in range(len(self.devices))]
        total = sum(weights)
        acc, self.cdf = 0.0, []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)
        self.next_id = first_event_id
        self.clock_us = start_us
        self.recent = []

    def _device(self):
        i = bisect.bisect_left(self.cdf, self.rng.random())
        return self.devices[min(i, len(self.devices) - 1)]

    def _fresh(self):
        s, rng = self.shape, self.rng
        self.clock_us += round(rng.expovariate(1.0 / s.gap_s) * 1_000_000)
        ts = self.clock_us
        if rng.random() < s.ooo_share:
            ts -= rng.randint(60_000_000, MAX_DELAY_US)
        ev = {
            "event_id": self.next_id,
            "ts": ts,
            "user_id": self._device(),
            "event_type": rng.choices(EVENT_TYPES, TYPE_WEIGHTS)[0],
            "value": round(rng.expovariate(1.0 / PROFILE["value_mean"]), 2),
            "props": '{"k": %d}' % rng.randint(PROFILE["props_k_min"],
                                               PROFILE["props_k_max"]),
        }
        self.next_id += 1
        self.recent.append(ev)
        if len(self.recent) > DUP_WINDOW:
            self.recent.pop(0)
        return ev

    def take(self, n):
        out = []
        for _ in range(n):
            if self.recent and self.rng.random() < self.shape.dup_share:
                out.append(self.rng.choice(self.recent))
            else:
                out.append(self._fresh())
        return out


def topic_line(ev):
    """One topic record, as `Topic.publishEvents` would serialise it."""
    # formatted by hand (the fields are numbers, a plain type name and a
    # quote-only props object); test_topic_line_is_the_topic_contract
    # checks it against json
    value = ('{"event_id":%d,"ts":%d,"user_id":%d,"event_type":"%s",'
             '"value":%r,"props":"%s"}' % (
                 ev["event_id"], ev["ts"], ev["user_id"], ev["event_type"],
                 ev["value"], ev["props"].replace('"', '\\"')))
    return '{"key":"%d","value":%s,"timestamp":%d}' % (
        ev["user_id"], json.dumps(value), ev["ts"])


def write_topic_file(path, events):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for ev in events:
            f.write(topic_line(ev))
            f.write("\n")
    os.replace(tmp, path)


# The profiled traffic, for both workloads; the serve_reads writer sends
# newer readings of mapped devices only (an orphan never reaches the
# latest table), with no re-sends and in order.
TRAFFIC = Shape(devices=PROFILE["devices"],
                mapped_share=PROFILE["mapped_devices"] / PROFILE["devices"],
                zipf_s=PROFILE["device_zipf_s"], dup_share=RESEND_SHARE,
                ooo_share=OOO_SHARE, gap_s=PROFILE["ts_gap_mean_s"])
WRITER = Shape(devices=PROFILE["mapped_devices"], mapped_share=1.0,
               zipf_s=PROFILE["device_zipf_s"], dup_share=0.0, ooo_share=0.0,
               gap_s=PROFILE["ts_gap_mean_s"])


def stage(workload, seed, out_dir, plan):
    """Write every input file of one run under `out_dir`; `plan` holds the
    sizes (slice counts, events per file).  Returns a summary dict that
    is also written to `out_dir/gen.json`."""
    os.makedirs(out_dir, exist_ok=True)
    summary = {"workload": workload, "seed": seed, "files": {}}

    def emit(sub, name, events):
        d = os.path.join(out_dir, sub)
        os.makedirs(d, exist_ok=True)
        write_topic_file(os.path.join(d, name), events)
        summary["files"].setdefault(sub, []).append([name, len(events)])

    if workload == "ingest":
        gen = Generator(seed, TRAFFIC)
        for i in range(plan["warm_files"]):
            emit("warm", "warm-%04d.json" % i, gen.take(plan["warm_events"]))
        for i in range(plan["slices"]):
            emit("staged", "slice-%04d.json" % i, gen.take(plan["slice_events"]))
        for i in range(plan["backlog_files"]):
            emit("backlog", "backlog-%04d.json" % i,
                 gen.take(plan["backlog_events"]))
    elif workload == "serve_reads":
        gen = Generator(seed, TRAFFIC)
        for i in range(plan["base_files"]):
            emit("base", "base-%04d.json" % i, gen.take(plan["base_events"]))
        # writer batches: events an hour newer than the base
        hot = Generator(seed + 1, WRITER, first_event_id=gen.next_id + 1_000_000,
                        start_us=gen.clock_us + 3_600_000_000)
        summary["update_first_id"] = hot.next_id
        for i in range(plan["update_files"]):
            emit("updates", "upd-%04d.json" % i,
                 hot.take(plan["update_events"]))
    else:
        raise ValueError("unknown workload " + workload)
    with open(os.path.join(out_dir, "gen.json"), "w") as f:
        json.dump(summary, f, sort_keys=True)
    return summary
