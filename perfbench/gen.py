"""Seeded generator for the benchmark's inputs, plus the plain-Python fold
that the ingest output check compares the engine's final state against.

Everything here is pure Python and driven by ``random.Random(seed)``; the
same seed and the same ``t0`` give byte-identical rows. Every timestamp is
an offset from ``t0`` (the run's start time), so the 30-day discussion
cutoff and the 2-week trending-tags window always see the same rows no
matter which day the benchmark runs.

Three products:

- ``seed_state``  — rows for the nine state tables (schemas.STATE_TABLES
  column order) over Zipf-skewed tokens, tags, accounts and posts;
- ``op_log``      — a dual-stream log: per cycle, a batch of L2 sidechain
  transactions and a batch of L1 ops, with a share of L1 blocks stamped
  ahead of the cycle's L2 clock (the runner parks those in its holdback
  and applies them one cycle later);
- ``request_trace`` — the serve workload's (endpoint, params) sequence.

``Fold`` replays the same log with the runner's gating rules (L2 clock,
head delay, block high-water marks) and the processors' batch semantics,
and yields the expected post rows, per-post vote_rshares and children
counts, and follow edges.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from decimal import Decimal

EPOCH = datetime(1970, 1, 1)
TOKENS = ("LEO", "PAL", "CTP", "SPT")
PROMO_ACCOUNT = "promo"
L1_BLOCK0 = 90_000_000
L2_BLOCK0 = 40_000_000
BLOCK_SECONDS = 3
HEAD_DELAY_SECONDS = 15  # the runner's freshness floor (streaming.runner)
FOLLOW_WHAT = {"blog": ["blog"], "unfollow": [], "ignore": ["ignore"]}


@dataclass(frozen=True)
class Knobs:
    posts: int = 20_000          # seeded posts
    accounts: int = 2_000
    tags: int = 60
    zipf: float = 1.1            # skew of tokens, tags, accounts and posts
    cycles: int = 48             # op-log length (a run consumes a prefix)
    blocks_per_batch: int = 2    # blocks per stream per cycle
    l2_txs_per_block: int = 6
    l1_ops_per_block: int = 4    # on top of the comment ops for new posts
    # L2 tx-type shares, dealt per cycle (every type at least once)
    l2_shares: tuple = (
        ("newComment", 0.15), ("vote", 0.55), ("reward", 0.12),
        ("setMute", 0.06), ("promotion", 0.12),
    )
    # extra L1 op shares, dealt per block (every type at least once; the
    # new-post comment/reply ops come from newComment)
    l1_shares: tuple = (
        ("edit", 0.35), ("delete_comment", 0.10), ("follow", 0.35),
        ("reblog", 0.20),
    )
    reply_share: float = 0.5     # share of new posts that are replies
    ahead_share: float = 0.5     # share of L1 blocks ahead of the L2 clock


# the seeded state both ingest and serve start from (built once per checkout)
STATE_SEED = 0
STATE_KNOBS = Knobs(posts=10_000, accounts=1_000, cycles=4)


class Zipf:
    """Rank sampler: P(rank r) ~ 1 / r**s over ranks 0..n-1."""

    def __init__(self, n: int, s: float):
        acc, self.cum = 0.0, []
        for r in range(1, n + 1):
            acc += 1.0 / r**s
            self.cum.append(acc)

    def __call__(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


def _dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"), sort_keys=True)


def _score(rshares: Decimal, ts: datetime, timescale: float) -> float:
    import math

    r = float(rshares)
    mod = math.log10(max(abs(r), 1.0)) * (1 if r > 0 else -1 if r < 0 else 0)
    return mod + (ts - EPOCH).total_seconds() / timescale


# ---------------------------------------------------------------------------
# seed state
# ---------------------------------------------------------------------------
@dataclass
class Post:
    ap: str
    author: str
    permlink: str
    tokens: list
    main: bool
    parent: str | None
    depth: int
    url: str
    created: datetime
    tags: list
    deleted: bool = False


@dataclass
class World:
    """Generator-side view shared by the seed and the log: who exists."""

    knobs: Knobs
    t0: datetime
    rng: random.Random
    accounts: list = field(default_factory=list)
    posts: list = field(default_factory=list)        # Post, creation order
    by_ap: dict = field(default_factory=dict)
    voted: set = field(default_factory=set)          # (ap, token, voter)
    following: dict = field(default_factory=dict)    # seeded follow=1 edges

    def __post_init__(self):
        k = self.knobs
        self.accounts = [f"u{i}" for i in range(k.accounts)]
        self.z_acct = Zipf(k.accounts, k.zipf)
        self.z_tok = Zipf(len(TOKENS), k.zipf)
        self.z_tag = Zipf(k.tags, k.zipf)
        self.z_recent = Zipf(4_000, k.zipf)

    def account(self, rng: random.Random | None = None) -> str:
        return self.accounts[self.z_acct(rng or self.rng)]

    def token(self, rng: random.Random | None = None) -> str:
        return TOKENS[self.z_tok(rng or self.rng)]

    def tag(self, rng: random.Random | None = None) -> str:
        return f"tag{self.z_tag(rng or self.rng)}"

    def live_post(self, main_only: bool = False) -> Post:
        """Recency-skewed pick: rank r is the r-th newest live post."""
        for _ in range(64):
            r = self.z_recent(self.rng)
            if r >= len(self.posts):
                continue
            p = self.posts[-1 - r]
            if not p.deleted and (p.main or not main_only):
                return p
        return next(p for p in reversed(self.posts)
                    if not p.deleted and (p.main or not main_only))

    def new_post(self, created: datetime, reply: bool) -> Post:
        i = len(self.posts)
        author = self.account()
        permlink = f"p{i}"
        ap = f"@{author}/{permlink}"
        if reply and self.posts:
            parent = self.live_post()
            tags = list(parent.tags)
            p = Post(ap, author, permlink, [parent.tokens[0]], False, parent.ap,
                     parent.depth + 1, parent.url, created, tags)
        else:
            tags = list(dict.fromkeys(self.tag() for _ in range(1 + self.rng.randrange(3))))
            toks = [self.token()]
            if self.rng.random() < 0.1:
                other = self.token()
                if other not in toks:
                    toks.append(other)
            p = Post(ap, author, permlink, toks, True, None, 0,
                     f"/{tags[0]}/{ap}", created, tags)
        self.posts.append(p)
        self.by_ap[ap] = p
        return p


def seed_state(knobs: Knobs, seed: int, t0: datetime):
    """-> (world, {table: [row tuples]}) for the nine state tables."""
    from distribution_engine_smt_spark.schemas import STATE_TABLES

    rng = random.Random(seed)
    w = World(knobs, t0, rng)
    start = log_start(knobs, t0)
    rows = {name: [] for name in STATE_TABLES}
    vote_sum: dict = {}
    children: dict = {}
    # posts spread over 25 days before the log starts; replies after parents
    for i in range(knobs.posts):
        age = timedelta(seconds=(knobs.posts - i) * (25 * 86400 / knobs.posts))
        p = w.new_post(start - age, reply=rng.random() < 0.3 and i > 100)
        if p.parent:
            children[p.parent] = children.get(p.parent, 0) + 1
    for p in w.posts:
        for tok in p.tokens:
            total = Decimal(0)
            for _ in range(rng.randrange(5)):
                voter = w.account()
                if (p.ap, tok, voter) in w.voted:
                    continue
                w.voted.add((p.ap, tok, voter))
                r = Decimal(rng.randrange(-20_000, 1_000_000))
                total += r
                ts = p.created + timedelta(seconds=rng.randrange(1, 86_400))
                rows["votes"].append((p.ap, voter, ts, tok, r, 10_000))
            vote_sum[(p.ap, tok)] = total
    accounts: dict = {}
    for p in w.posts:
        cashout = p.created + timedelta(days=7)
        paid = cashout < start
        parent = w.by_ap.get(p.parent) if p.parent else None
        for tok in p.tokens:
            vr = Decimal(0) if paid else vote_sum[(p.ap, tok)]
            promoted = Decimal(rng.randrange(1, 50)) if not paid and rng.random() < 0.05 else Decimal(0)
            rows["posts"].append((
                p.ap, p.author, p.created, ",".join(p.tags), "bench/1", p.main,
                False, tok, vr, cashout, cashout if paid else EPOCH,
                Decimal(rng.randrange(1, 5_000)) / 100 if paid else Decimal(0),
                Decimal(0), _score(vr, p.created, 480_000.0),
                _score(vr, p.created, 10_000.0), 0, promoted,
                f"title {p.permlink}", f"desc {p.permlink}", children.get(p.ap, 0),
                parent.author if parent else "", parent.permlink if parent else p.tags[0],
                _score(promoted, p.created, 480_000.0), rng.random() < 0.02,
            ))
            key = (p.author, tok)
            a = accounts.setdefault(key, [None, None])
            if p.main:
                a[1] = max(a[1] or p.created, p.created)
            else:
                a[0] = max(a[0] or p.created, p.created)
        rows["post_metadata"].append((
            p.ap, f"body of {p.ap}", _dumps({"app": "bench/1", "tags": p.tags}),
            ",".join(p.tags), children.get(p.ap, 0), p.parent, p.url, p.depth,
        ))
    for (name, tok), (last, last_root) in sorted(accounts.items()):
        rows["accounts"].append((name, tok, last, last_root, rng.random() < 0.02, None))
    follows = {}
    for a in w.accounts:
        for _ in range(rng.randrange(8)):
            b = w.account()
            if b != a:
                follows[(a, b)] = 1 if rng.random() < 0.9 else rng.choice((0, 2))
    rows["follows"] = [(a, b, s) for (a, b), s in sorted(follows.items())]
    for (a, b), s in sorted(follows.items()):
        if s == 1:
            w.following.setdefault(a, []).append(b)
    reblogs = {}
    for _ in range(knobs.posts // 20):
        p = w.live_post(main_only=True)
        reblogs[(w.account(), p.ap)] = p.created + timedelta(hours=1)
    rows["reblogs"] = [(a, ap, ts) for (a, ap), ts in sorted(reblogs.items())]
    hid = 0
    for p in w.posts:
        if p.created + timedelta(days=7) < start:
            for tok in p.tokens:
                hid += 1
                rows["account_history"].append((
                    hid, p.author, tok, p.created + timedelta(days=7),
                    Decimal(rng.randrange(1, 900)) / 100, f"trx{hid}",
                    "author_reward", p.ap,
                ))
    rows["token_config"] = [
        (tok, 7, 50, Decimal("1.0500"), Decimal("0.5000"), 0, "null",
         PROMO_ACCOUNT, i + 1, f"{tok.lower()}-pay", 5, 5, False, False)
        for i, tok in enumerate(TOKENS)
    ]
    rows["configuration"] = [
        (1, L1_BLOCK0 - 1, start - timedelta(seconds=1), None, None, "HIVED"),
        (2, None, None, L2_BLOCK0 - 1, start - timedelta(seconds=1), "ENGINE_SIDECHAIN"),
    ]
    return w, rows


# ---------------------------------------------------------------------------
# dual-stream op log
# ---------------------------------------------------------------------------
def cycle_seconds(knobs: Knobs) -> int:
    return knobs.blocks_per_batch * BLOCK_SECONDS


def log_start(knobs: Knobs, t0: datetime) -> datetime:
    """The whole log sits before t0 - head delay, so ``now=t0`` never parks
    an op for being too young; only the L2-clock gate parks ops."""
    return t0 - timedelta(seconds=HEAD_DELAY_SECONDS + 5 + knobs.cycles * cycle_seconds(knobs))


def _deal(shares: tuple, n: int) -> list:
    """n kinds in a fixed, evenly spread order: each kind's count is its
    share of n (largest remainder), at least one each while n allows. The
    families a batch holds are then the same for every seed, so the engine
    builds the same plans and only the parameters vary."""
    total = sum(w for _, w in shares)
    want = [n * w / total for _, w in shares]
    counts = [int(x) for x in want]
    for i in range(len(shares)):
        if counts[i] == 0 and sum(counts) < n:
            counts[i] = 1
    by_rem = sorted(range(len(shares)), key=lambda i: counts[i] - want[i])
    for i in by_rem[:n - sum(counts)]:
        counts[i] += 1
    slots = sorted(((j + 0.5) / c, i) for i, c in enumerate(counts) for j in range(c))
    return [shares[i][0] for _, i in slots]


def _pick(rng: random.Random, shares: tuple) -> str:
    x = rng.random() * sum(s for _, s in shares)
    for name, s in shares:
        x -= s
        if x < 0:
            return name
    return shares[-1][0]


def _l1_row(block, seq, ts, typ, author=None, permlink=None, parent_author=None,
            parent_permlink=None, title=None, body=None, json_metadata=None,
            cid=None, payload=None, user=None):
    return (block, seq, ts, typ, author, permlink, parent_author, parent_permlink,
            title, body, json_metadata, cid, payload,
            [user] if user else None, None)


def _l2_row(block, ts, seq, contract, action, sender, payload, events):
    return (block, ts, seq, contract, action, sender, f"tx{block}-{seq}",
            _dumps(payload), _dumps({"events": events}))


def op_log(world: World, seed: int | None = None) -> list:
    """-> [{"l2": [TXS_L2 rows], "l1": [OPS_L1 rows]}] per cycle.

    Inside a cycle the L2 blocks come every 3 s; L1 blocks spread over the
    same window, and the last ``ahead_share`` of them are stamped after the
    cycle's last L2 block, so the runner parks them until the next cycle's
    L2 batch moves the clock past them. With ``seed`` the log is drawn from
    its own generator, so one seeded state takes many different logs."""
    if seed is not None:
        world.rng = random.Random(seed * 104_729 + 3)
    k, rng = world.knobs, world.rng
    start = log_start(k, world.t0)
    nb = k.blocks_per_batch
    span = cycle_seconds(k)
    n_ahead = min(nb - 1, round(k.ahead_share * nb))
    out = []
    for c in range(k.cycles):
        base = start + timedelta(seconds=c * span)
        l2_clock = base + timedelta(seconds=span - 2)
        l2, new_posts = [], []
        l2_kinds = _deal(k.l2_shares, nb * k.l2_txs_per_block)
        kinds = iter(l2_kinds)
        replies = iter(_deal((("reply", k.reply_share), ("main", 1 - k.reply_share)),
                             l2_kinds.count("newComment")))
        for b in range(nb):
            block = L2_BLOCK0 + c * nb + b
            ts = base + timedelta(seconds=b * BLOCK_SECONDS + 1)
            for s in range(k.l2_txs_per_block):
                kind = next(kinds)
                if kind == "newComment":
                    p = world.new_post(ts, reply=next(replies) == "reply")
                    new_posts.append(p)
                    l2.append(_l2_row(block, ts, s, "comments", "comment", p.author,
                                      {"author": p.author, "permlink": p.permlink},
                                      [{"contract": "comments", "event": "newComment",
                                        "data": {"symbol": t}} for t in p.tokens]))
                    continue
                p = world.live_post()
                tok = p.tokens[rng.randrange(len(p.tokens))]
                if kind == "vote":
                    voter = world.account()
                    ev = "updateVote" if (p.ap, tok, voter) in world.voted else "newVote"
                    world.voted.add((p.ap, tok, voter))
                    l2.append(_l2_row(block, ts, s, "comments", "vote", voter,
                                      {"author": p.author, "permlink": p.permlink,
                                       "voter": voter, "weight": 10_000},
                                      [{"contract": "comments", "event": ev,
                                        "data": {"symbol": tok,
                                                 "rshares": str(rng.randrange(-20_000, 1_000_000))}}]))
                elif kind == "reward":
                    ev = _pick(rng, (("curationReward", 0.6), ("beneficiaryReward", 0.2),
                                     ("authorReward", 0.2)))
                    acct = p.author if ev == "authorReward" else world.account()
                    l2.append(_l2_row(block, ts, s, "comments", "payout", "null",
                                      {"authorperm": p.ap},
                                      [{"contract": "comments", "event": ev,
                                        "data": {"symbol": tok, "authorperm": p.ap,
                                                 "account": acct,
                                                 "quantity": f"{rng.randrange(1, 5000) / 1000:.3f}"}}]))
                elif kind == "setMute":
                    acct = world.account()
                    l2.append(_l2_row(block, ts, s, "comments", "setMute", acct,
                                      {"account": acct,
                                       "rewardPoolId": TOKENS.index(tok) + 1,
                                       "mute": rng.random() < 0.3}, []))
                else:  # promotion: tokens.transfer to the promoted-post account
                    sender = world.account()
                    l2.append((block, ts, s, "tokens", "transfer", sender,
                               f"tx{block}-{s}",
                               _dumps({"symbol": tok, "to": PROMO_ACCOUNT,
                                       "quantity": f"{rng.randrange(1, 100)}.000",
                                       "memo": p.ap}),
                               _dumps({"events": [{"contract": "tokens",
                                                   "event": "transfer",
                                                   "data": {"symbol": tok}}]})))
        # L1: one comment op per new post, spread over the on-time blocks,
        # plus edits / deletes / follows / reblogs on older posts in every
        # block; the ahead-of-clock blocks hold only the latter
        created_now = {p.ap for p in new_posts}
        n_on_time = nb - n_ahead
        l1 = []
        for b in range(nb):
            block = L1_BLOCK0 + c * nb + b
            if b < n_on_time:
                ts = base + timedelta(seconds=b * (span - 2) / n_on_time)
            else:  # ahead of this cycle's L2 clock
                ts = l2_clock + timedelta(seconds=(b - n_on_time + 1) * 2 / (n_ahead + 1))
            chunk = []
            for p in new_posts[b::n_on_time] if b < n_on_time else ():
                chunk.append(("comment", p, world.by_ap.get(p.parent) if p.parent else None))
            for kind in _deal(k.l1_shares, k.l1_ops_per_block):
                if kind == "edit":
                    p = world.live_post()
                    chunk.append(("comment", p, world.by_ap.get(p.parent) if p.parent else None))
                elif kind == "delete_comment":
                    p = world.live_post()
                    for _ in range(64):
                        if p.ap not in created_now:
                            break
                        p = world.live_post()
                    if p.ap in created_now or len(world.posts) < 200:
                        continue
                    p.deleted = True
                    chunk.append(("delete_comment", p, None))
                elif kind == "follow":
                    chunk.append(("follow", world.account(), world.account()))
                else:
                    chunk.append(("reblog", world.account(), world.live_post(main_only=True)))
            for s, (kind, a, x) in enumerate(chunk):
                if kind == "comment":
                    p, parent = a, x
                    body = f"body of {p.ap} at {block}"
                    meta = _dumps({"app": "bench/1", "tags": p.tags})
                    l1.append(_l1_row(block, s, ts, "comment", p.author, p.permlink,
                                      parent.author if parent else "",
                                      parent.permlink if parent else p.tags[0],
                                      f"title {p.permlink}", body, meta, user=p.author))
                elif kind == "delete_comment":
                    l1.append(_l1_row(block, s, ts, "delete_comment", a.author,
                                      a.permlink, user=a.author))
                elif kind == "follow":
                    what = FOLLOW_WHAT[_pick(rng, (("blog", 0.8), ("unfollow", 0.15),
                                                   ("ignore", 0.05)))]
                    l1.append(_l1_row(block, s, ts, "custom_json", cid="follow",
                                      payload=_dumps(["follow", {"follower": a,
                                                                 "following": x,
                                                                 "what": what}]),
                                      user=a))
                else:
                    l1.append(_l1_row(block, s, ts, "custom_json", cid="reblog",
                                      payload=_dumps(["reblog", {"account": a,
                                                                 "author": x.author,
                                                                 "permlink": x.permlink}]),
                                      user=a))
        out.append({"l2": l2, "l1": l1})
    return out


# ---------------------------------------------------------------------------
# expected state: the runner's gating + the processors' batch semantics
# ---------------------------------------------------------------------------
class Fold:
    """Plain-Python replay of the log against the seeded state."""

    def __init__(self, rows: dict, t_now: datetime):
        self.now = t_now
        self.rows = {}   # (ap, token) -> {"vote_rshares": Decimal, "children": int}
        for r in rows["posts"]:
            self.rows[(r[0], r[7])] = {"vote_rshares": r[8], "children": r[19]}
        self.votes = {(r[0], r[3], r[1]): r[4] for r in rows["votes"]}
        self.follows = {(r[0], r[1]): r[2] for r in rows["follows"]}
        self.l2_clock = rows["configuration"][1][4]
        self.l1_hwm = rows["configuration"][0][1]
        self.l2_hwm = rows["configuration"][1][3]
        self.held_l1: list = []

    def _tokens(self, ap: str) -> list:
        return [k for k in self.rows if k[0] == ap]

    def apply_l2(self, txs: list) -> None:
        txs = [t for t in txs if t[0] > self.l2_hwm]
        if not txs:
            return
        new_rows, votes, rewarded = [], [], set()
        for block, ts, s, contract, action, _, _, payload, logs in txs:
            if contract != "comments":
                continue
            pl = json.loads(payload)
            for ev_seq, ev in enumerate(json.loads(logs)["events"]):
                d = ev["data"]
                if ev["event"] == "newComment":
                    new_rows.append((f"@{pl['author']}/{pl['permlink']}", d["symbol"]))
                elif ev["event"] in ("newVote", "updateVote"):
                    ap = f"@{pl['author']}/{pl['permlink']}"
                    votes.append(((block, s, ev_seq), (ap, d["symbol"], pl["voter"]),
                                  Decimal(d["rshares"])))
                elif ev["event"] == "authorReward":
                    rewarded.add((d["authorperm"], d["symbol"]))
        for key in new_rows:
            self.rows[key] = {"vote_rshares": Decimal(0), "children": 0}
        last = {}
        for _, key, r in sorted(votes):
            last[key] = r
        delta: dict = {}
        for key, r in last.items():
            delta[key[:2]] = delta.get(key[:2], Decimal(0)) + r - self.votes.get(key, Decimal(0))
            self.votes[key] = r
        for key, d in delta.items():
            if key in self.rows:
                self.rows[key]["vote_rshares"] += d
        for key in rewarded:
            if key in self.rows:
                self.rows[key]["vote_rshares"] = Decimal(0)
        self.l2_clock = max(t[1] for t in txs)
        self.l2_hwm = max(t[0] for t in txs)

    def apply_l1(self, ops: list) -> None:
        ops = [o for o in ops + self.held_l1 if o[0] > self.l1_hwm]
        limit = self.now - timedelta(seconds=HEAD_DELAY_SECONDS)
        ok = [o for o in ops if o[2] <= limit and o[2] < self.l2_clock]
        self.held_l1 = [o for o in ops if not (o[2] <= limit and o[2] < self.l2_clock)]
        if not ok:
            return
        seq = lambda o: o[0] * 1_000_000 + o[1]  # noqa: E731
        ap_of = lambda o: f"@{o[4]}/{o[5]}"  # noqa: E731
        del_seq = {}
        for o in ok:
            if o[3] == "delete_comment":
                del_seq[ap_of(o)] = max(del_seq.get(ap_of(o), -1), seq(o))
        existing = {k[0] for k in self.rows}
        inc: dict = {}
        for o in ok:
            if o[3] != "comment" or ap_of(o) not in existing:
                continue
            if ap_of(o) in del_seq and seq(o) < del_seq[ap_of(o)]:
                continue
            if o[6] and o[7]:  # reply: +1 on the parent, edits included
                parent = f"@{o[6]}/{o[7]}"
                inc[parent] = inc.get(parent, 0) + 1
        for parent, n in inc.items():
            for key in self._tokens(parent):
                self.rows[key]["children"] += n
        for ap in del_seq:
            for key in self._tokens(ap):
                del self.rows[key]
        last = {}
        for o in sorted(ok, key=seq):
            if o[3] == "custom_json" and o[11] == "follow":
                body = json.loads(o[12])
                if body[0] != "follow":
                    continue
                f = body[1]
                what = f["what"]
                last[(f["follower"], f["following"])] = 2 if what == ["ignore"] else 1 if what == ["blog"] else 0
        self.follows.update(last)
        self.l1_hwm = max(o[0] for o in ok)


# ---------------------------------------------------------------------------
# serve request trace
# ---------------------------------------------------------------------------
# one pass of the endpoint rotation: hot discussion pages and trending
# tags dominate; get_post, the recursive thread walk, the feed semi-join,
# the offset-paged history and /state form the long tail. ``state`` comes
# once per pass, further apart than its 3 s TTL. A ``#tag`` / ``#anchor``
# slot is a hot page filtered by a Zipf-drawn tag / keyset-anchored on a
# Zipf-drawn recent post; fixed slots keep every pass's mix the same.
# The slot shares are an assumption (hot pages dominate), not taken from a
# measured frontend trace; with two passes they give a cache hit ratio of
# 0.81 to 0.82.
ENDPOINT_CYCLE = (
    "get_discussions_by_trending", "get_discussions_by_hot", "get_post",
    "get_discussions_by_created", "get_discussions_by_trending",
    "get_trending_tags", "get_discussions_by_hot",
    "get_discussions_by_created", "get_discussions_by_trending",
    "get_account_history", "get_discussions_by_hot",
    "get_discussions_by_created", "get_discussions_by_trending",
    "get_trending_tags", "get_thread", "get_discussions_by_hot",
    "get_discussions_by_created", "get_discussions_by_trending#tag",
    "get_discussions_by_hot", "get_trending_tags",
    "get_discussions_by_created", "get_discussions_by_trending", "state",
    "get_discussions_by_hot", "get_discussions_by_created",
    "get_discussions_by_trending", "get_post", "get_trending_tags",
    "get_discussions_by_hot", "get_discussions_by_created",
    "get_discussions_by_trending", "get_discussions_by_hot",
    "get_discussions_by_created", "get_feed", "get_discussions_by_trending",
    "get_trending_tags", "get_discussions_by_hot",
    "get_discussions_by_created", "get_discussions_by_trending",
    "get_account_history", "get_discussions_by_hot#anchor",
    "get_discussions_by_created", "get_discussions_by_trending",
    "get_trending_tags", "get_discussions_by_hot",
    "get_discussions_by_created", "get_discussions_by_trending",
    "get_discussions_by_hot",
)


HOT_TOKENS = TOKENS[:2]  # hot pages are the two largest tokens' pages
THREAD_HEIGHT = 3        # get_thread roots: reply trees exactly this tall
FEED_FOLLOWS = (4, 6)    # get_feed viewers: followee count band


def request_trace(world: World, n: int, seed: int) -> list:
    """n (endpoint, params) requests: endpoints follow ENDPOINT_CYCLE, every
    parameter is Zipf-drawn, so the cache hit ratio follows from the
    traffic."""
    rng = random.Random(seed * 7919 + 1)
    z_post = Zipf(len(world.posts), world.knobs.zipf)
    mains = [p for p in world.posts if p.main and not p.deleted]
    z_main = Zipf(len(mains), world.knobs.zipf)
    # per-request cost of the recursive walk and the feed semi-join grows
    # with thread height and followee count; drawing both from a fixed band
    # keeps one seed's misses as expensive as another's
    kids: dict = {}
    for q in world.posts:
        if q.parent:
            kids.setdefault(q.parent, []).append(q.ap)

    def height(ap: str) -> int:
        return 1 + max((height(c) for c in kids.get(ap, ())), default=0)

    threads = [p for p in mains if p.ap in kids and height(p.ap) == THREAD_HEIGHT] or mains
    z_thread = Zipf(len(threads), world.knobs.zipf)
    feeders = [a for a in world.accounts if FEED_FOLLOWS[0] <= len(world.following.get(a, ())) <= FEED_FOLLOWS[1]]
    z_feed = Zipf(len(feeders), world.knobs.zipf)
    out = []
    z_hot = Zipf(len(HOT_TOKENS), world.knobs.zipf)
    for i in range(n):
        ep, _, variant = ENDPOINT_CYCLE[i % len(ENDPOINT_CYCLE)].partition("#")
        tok = world.token(rng)
        if ep in ("get_discussions_by_trending", "get_discussions_by_hot",
                  "get_discussions_by_created"):
            params = {"token": HOT_TOKENS[z_hot(rng)], "limit": 20}
            if variant == "tag":
                params["tag"] = world.tag(rng)
            elif variant == "anchor":
                a = mains[-1 - z_main(rng)]
                params.update(token=a.tokens[0], start_author=a.author,
                              start_permlink=a.permlink)
        elif ep == "get_trending_tags":
            params = {"token": HOT_TOKENS[z_hot(rng)], "limit": 20}
        elif ep == "get_post":
            p = world.posts[-1 - z_post(rng)]
            params = {"token": p.tokens[0], "account": p.author, "permlink": p.permlink}
        elif ep == "get_thread":
            p = threads[-1 - z_thread(rng)]
            params = {"token": p.tokens[0], "author": p.author, "permlink": p.permlink}
        elif ep == "get_feed":
            params = {"token": tok, "account": feeders[z_feed(rng)], "limit": 20}
        elif ep == "get_account_history":
            params = {"token": tok, "account": world.account(rng), "limit": 20,
                      "offset": rng.choice((0, 0, 20))}
        else:
            params = {}
        out.append((ep, params))
    return out
