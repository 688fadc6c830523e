"""Seeded Twitter-API-v2 page corpus for the convoy workloads.

The corpus has the shape the convoy ingest expects: original and expansion
JSONL page files, `data[]` plus `includes.tweets/users` (with duplicate
copies across pages), `errors[]` of all three kinds, corrupt lines, reply
trees with quote/retweet links between conversations, expansion re-fetches
with drifted counts (which first-wins dedup must drop) and late replies.

`generate(seed, out_dir)` writes the files and returns a `Model` holding
what the pipeline must produce from them: the expected row counts and, per
tweet, the ur-conversation id, reply-subtree size and depth. The same seed
gives byte-identical files.
"""
import os
import random
from dataclasses import dataclass, field

N_USERS = 5000
FIRST_ID = 1000001
ERROR_TWEET_BASE = 4000000
PAGE_SIZE = 120
ORIG_FILES = 8
EXP_FILES = 4

# Shape. A corpus is `chain` conversations of `chain_replies` replies whose
# roots each quote or retweet a tweet of the previous one (one ur-tree
# `chain` deep, a mega tree-stats group; each reply extends the newest
# tweet with probability `chain_reply_prob`, so reply chains run ~80 deep),
# followed by `conversations` small ones of 1 to `max_replies` + 1 tweets,
# a `link_prob` share of whose roots link to a random earlier tweet.
# `late_frac` sizes the late replies. The small conversations load ingest
# and the sinks, the chain closure rounds and tree stats.
SHAPE = dict(chain=8, chain_replies=79, chain_reply_prob=0.98,
             conversations=30, max_replies=49, link_prob=1 / 3, late_frac=0.1)


@dataclass
class Tweet:
    id: int
    conv: int
    author: int
    reply_to: int = None
    reply_to_user: int = None
    quoted: int = None
    retweeted: int = None
    hashtags: list = field(default_factory=list)
    mentions: list = field(default_factory=list)
    with_url: bool = False


@dataclass
class Model:
    """What the pipeline must output for one generated corpus."""
    original_paths: list
    expansion_paths: list
    tweets: int            # tweets_i rows (real tweets + error placeholders)
    users: int             # users_a rows
    conversation_ids: int  # conversation_ids lines
    quarantine: int        # _quarantine rows (corrupt lines)
    ur: dict               # tweet_id -> ur_conversation_id (real tweets)
    descendants: dict      # tweet_id -> reply-subtree size minus one
    max_depth: dict        # tweet_id -> reply-subtree height


def _ts(tid):
    s = (tid - 1000000) * 3
    day, rem = divmod(s, 86400)
    return "2022-02-%02dT%02d:%02d:%02d.000Z" % (
        1 + day, rem // 3600, rem % 3600 // 60, rem % 60)


def _tweet_json(t, counts):
    parts = ['{"id": "%d", "conversation_id": "%d", "author_id": "%d", '
             % (t.id, t.conv, t.author),
             '"created_at": "%s", "lang": "%s", '
             % (_ts(t.id), "fi" if t.id % 5 == 0 else "en")]
    url = " https://t.co/x%d" % t.id if t.with_url else ""
    tags = "".join(" #" + h for h in t.hashtags)
    parts.append('"text": "tweet %d body%s%s", ' % (t.id, url, tags))
    parts.append('"public_metrics": {"retweet_count": %d, "reply_count": %d, '
                 '"like_count": %d, "quote_count": %d}' % counts)
    if t.reply_to_user is not None:
        parts.append(', "in_reply_to_user_id": "%d"' % t.reply_to_user)
    refs = []
    if t.reply_to is not None:
        refs.append('{"type": "replied_to", "id": "%d"}' % t.reply_to)
    if t.quoted is not None:
        refs.append('{"type": "quoted", "id": "%d"}' % t.quoted)
    if t.retweeted is not None:
        refs.append('{"type": "retweeted", "id": "%d"}' % t.retweeted)
    if refs:
        parts.append(', "referenced_tweets": [' + ", ".join(refs) + "]")
    ents = []
    if t.hashtags:
        ents.append('"hashtags": [' + ", ".join(
            '{"tag": "%s"}' % h for h in t.hashtags) + "]")
    if t.mentions:
        ents.append('"mentions": [' + ", ".join(
            '{"username": "u%d", "id": "%d"}' % (m, m) for m in t.mentions) + "]")
    if t.with_url:
        ents.append('"urls": [{"url": "https://t.co/x%d", '
                    '"expanded_url": "https://example.org/a/%d"}]' % (t.id, t.id))
    if ents:
        parts.append(', "entities": {' + ", ".join(ents) + "}")
    parts.append("}")
    return "".join(parts)


def _user_json(uid):
    empty = uid % 11 == 0
    url = "" if empty else "https://t.co/u%d" % uid
    loc = "" if empty else "city%d" % (uid % 37)
    desc = "" if uid % 13 == 0 else "user %d writes things https://t.co/u%d" % (uid, uid)
    ent = "" if empty else (
        ', "entities": {"url": {"urls": [{"url": "https://t.co/u%d", '
        '"expanded_url": "https://u%d.example.net"}]}}' % (uid, uid))
    return ('{"id": "%d", "username": "u%d", "name": "User %d", "description": "%s", '
            '"created_at": "2020-0%d-1%dT0%d:00:00.000Z", '
            '"verified": %s, "protected": %s, "url": "%s", "location": "%s", '
            '"public_metrics": {"followers_count": %d, "following_count": %d, '
            '"tweet_count": %d, "listed_count": %d}%s}'
            % (uid, uid, uid, desc, 1 + uid % 9, uid % 9, uid % 9,
               "true" if uid % 7 == 0 else "false",
               "true" if uid % 17 == 0 else "false", url, loc,
               uid % 5000, uid % 800, uid % 20000, uid % 40, ent))


def _error_json(page_no):
    """The three error kinds the ingest handles, on a fixed page cadence."""
    k = page_no % 17
    uid = 1 + page_no % N_USERS
    if k == 3:
        return ("tweet", ERROR_TWEET_BASE + page_no,
                '{"resource_type": "tweet", "resource_id": "%d", "parameter": "ids", '
                '"title": "Not Found Error", "detail": "Could not find tweet with ids: [%d]."}'
                % (ERROR_TWEET_BASE + page_no, ERROR_TWEET_BASE + page_no))
    if k == 8:
        return ("in_reply_to", uid,
                '{"resource_type": "user", "resource_id": "%d", "parameter": '
                '"in_reply_to_user_id", "title": "Forbidden", "detail": '
                '"User has been suspended."}' % uid)
    if k == 12:
        return ("mention", uid,
                '{"resource_type": "user", "resource_id": "u%d", "parameter": '
                '"entities.mentions.username", "title": "Not Found Error", '
                '"detail": "Could not find user with usernames: [u%d]."}' % (uid, uid))
    return None


def _build_forest(rnd, p):
    tweets, all_ids = [], []
    next_id = [FIRST_ID]

    def new_tweet(conv, reply_to=None, reply_to_user=None, quoted=None, retweeted=None):
        tid = next_id[0]
        next_id[0] += 1
        author = 1 + rnd.randrange(N_USERS)
        if rnd.randrange(4) == 0:
            tags = sorted({"h%d" % rnd.randrange(50), "h%d" % rnd.randrange(50)})
        elif rnd.randrange(3) == 0:
            tags = ["h%d" % rnd.randrange(50)]
        else:
            tags = []
        ments = [1 + rnd.randrange(N_USERS)] if rnd.randrange(5) == 0 else []
        t = Tweet(tid, conv, author, reply_to, reply_to_user, quoted, retweeted,
                  tags, ments, rnd.randrange(4) == 0)
        tweets.append(t)
        all_ids.append(tid)
        return t

    prev_members = None
    for c in range(p["chain"] + p["conversations"]):
        chained = c < p["chain"]
        if chained and prev_members:
            target = rnd.choice(prev_members).id
        elif all_ids and not chained and rnd.random() < p["link_prob"]:
            target = all_ids[rnd.randrange(len(all_ids))]
        else:
            target = None
        q = rt = None
        if target is not None:
            if rnd.randrange(2):
                q = target
            else:
                rt = target
        root = new_tweet(next_id[0], quoted=q, retweeted=rt)
        members = [root]
        # sizes depend on the shape only, so every seed has the same volume
        n_replies = p["chain_replies"] if chained else c % (p["max_replies"] + 1)
        extend = p["chain_reply_prob"] if chained else 0.0
        for _ in range(n_replies):
            if rnd.random() < extend:
                parent = members[-1]
            else:
                parent = members[rnd.randrange(len(members))]
            # a few replies also retweet a foreign tweet (unguarded edge)
            also_rt = all_ids[rnd.randrange(len(all_ids))] if rnd.randrange(66) == 0 else None
            members.append(new_tweet(root.id, parent.id, parent.author, None, also_rt))
        prev_members = members
    return tweets, all_ids, new_tweet


def generate(seed, out_dir, scale=1.0):
    """Write the corpus for `seed` under out_dir, with the shape's
    conversation counts and sizes times `scale`; return its Model."""
    p = dict(SHAPE)
    for k in ("chain", "chain_replies", "conversations"):
        p[k] = max(1, round(p[k] * scale))
    rnd = random.Random(seed)
    tweets, all_ids, new_tweet = _build_forest(rnd, p)
    by_id = {t.id: t for t in tweets}
    n_orig = len(tweets)
    reply_children = {}
    for t in tweets:
        if t.reply_to is not None:
            reply_children[t.reply_to] = reply_children.get(t.reply_to, 0) + 1

    def counts(t, drifted):
        d = 100 if drifted else 0
        return (t.id % 9 + d, reply_children.get(t.id, 0) + d, t.id % 23 + d, t.id % 4)

    os.makedirs(out_dir, exist_ok=True)
    page_no = [0]
    users_seen, mention_names = set(), set()
    tweet_rows = {}       # tweet id -> winning (original-first) copy's counts
    error_tweets, user_errors = set(), []
    corrupt = [0]

    def write_files(prefix, n_files, items, drifted):
        pages = [items[i:i + PAGE_SIZE] for i in range(0, len(items), PAGE_SIZE)]
        per_file = (len(pages) + n_files - 1) // n_files
        paths = []
        for f in range(n_files):
            path = os.path.join(out_dir, "%s_%d.jsonl" % (prefix, f))
            lines = []
            for page in pages[f * per_file:(f + 1) * per_file]:
                page_no[0] += 1
                pn = page_no[0]
                inc, seen = [], set()
                for t in page:
                    for r in (t.reply_to, t.quoted, t.retweeted):
                        if r is not None and r not in seen:
                            seen.add(r)
                            inc.append(by_id[r])
                inc = inc[:5]
                users = []
                for u in ([t.author for t in page] + [t.author for t in inc]
                          + [m for t in page for m in t.mentions]):
                    if u not in users:
                        users.append(u)
                err = _error_json(pn)
                sb = ['{"data": [' + ", ".join(
                    _tweet_json(t, counts(t, drifted)) for t in page) + "]"]
                sb.append(', "includes": {')
                if inc:
                    sb.append('"tweets": [' + ", ".join(
                        _tweet_json(t, counts(t, drifted)) for t in inc) + "], ")
                sb.append('"users": [' + ", ".join(_user_json(u) for u in users) + "]")
                sb.append('}, "meta": {"next_token": "tok%d"}' % pn)
                if err is not None:
                    sb.append(', "errors": [' + err[2] + "]")
                sb.append("}")
                lines.append("".join(sb))
                for t in page + inc:
                    tweet_rows.setdefault(t.id, counts(t, drifted))
                    mention_names.update(t.mentions)
                users_seen.update(users)
                if err is not None:
                    if err[0] == "tweet":
                        error_tweets.add(err[1])
                    else:
                        user_errors.append(err[:2])
                if pn % 23 == 11:
                    lines.append("corrupt page %d {{{not json" % pn)
                    corrupt[0] += 1
            with open(path, "wb") as fh:
                fh.write(("\n".join(lines) + "\n" if lines else "").encode())
            paths.append(path)
        return paths

    orig_paths = write_files("pages_orig", ORIG_FILES, tweets, drifted=False)
    # expansion: re-fetch of every 6th tweet (drifted counts lose dedup)
    # plus late replies to original tweets (new ids, they win)
    refetch = tweets[::6]
    late = []
    for _ in range(int(n_orig * p["late_frac"])):
        parent = by_id[all_ids[rnd.randrange(n_orig)]]
        late.append(new_tweet(parent.conv, parent.id, parent.author))
    for t in late:  # new_tweet also appended each to `tweets`
        by_id[t.id] = t
    exp_paths = write_files("pages_exp", EXP_FILES, refetch + late, drifted=True)

    users = set(users_seen)
    for kind, uid in user_errors:
        # mention errors resolve through the usernames that tweets mention
        if kind == "in_reply_to" or uid in mention_names:
            users.add(uid)
    conv_ids = {by_id[tid].conv for tid, c in tweet_rows.items() if c[1] > 0}
    ur = _ur_conversations(tweets, by_id)
    desc, depth = _reply_subtrees(tweets)
    return Model(orig_paths, exp_paths,
                 tweets=len(tweet_rows) + len(error_tweets), users=len(users),
                 conversation_ids=len(conv_ids), quarantine=corrupt[0],
                 ur=ur, descendants=desc, max_depth=depth)


def _ur_conversations(tweets, by_id):
    """Root of each conversation under the pipeline's edge rule: a quote
    (only from a non-reply) beats a retweet, then the smallest parent."""
    best = {}
    for t in tweets:
        cands = []
        if t.quoted is not None and t.reply_to is None:
            cands.append((0, by_id[t.quoted].conv))
        if t.retweeted is not None:
            cands.append((1, by_id[t.retweeted].conv))
        for c in cands:
            if c[1] != t.conv and (t.conv not in best or c < best[t.conv]):
                best[t.conv] = c
    parent = {k: v[1] for k, v in best.items()}
    root = {}

    def find(c):
        path = []
        while c in parent and c not in root:
            path.append(c)
            c = parent[c]
        r = root.get(c, c)
        for x in path:
            root[x] = r
        return r

    return {t.id: find(t.conv) for t in tweets}


def _reply_subtrees(tweets):
    """Reply-subtree size minus one and height per tweet. Parents always
    precede their replies in id order, so one reverse pass suffices."""
    desc = {t.id: 0 for t in tweets}
    depth = dict(desc)
    for t in sorted(tweets, key=lambda t: t.id, reverse=True):
        if t.reply_to is not None:
            desc[t.reply_to] += desc[t.id] + 1
            depth[t.reply_to] = max(depth[t.reply_to], depth[t.id] + 1)
    return desc, depth
