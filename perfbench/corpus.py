"""Seeded synthetic Groove/HelpScout corpus for the benchmark workloads.

``make_corpus(seed, n_tickets)`` returns plain Python records (dicts in
the Groove API's JSON shape) for every table the pipelines read, plus
the counts a correct run of ``plans.transform_customers`` and
``plans.build_conversations`` must produce. The expected counts are
derived here, from the generator's own bookkeeping of which record got
which edge case, never by running the engine.

The edge cases are the kinds FIXTURES.md lists, assigned at fixed
shares: each share is an exact record count, and the seed only decides
WHICH records carry it, so every seed exercises the same mix.
Everything is a pure function of (seed, sizes): the same arguments give
byte-identical JSON.

The mix is assumed, not measured. FIXTURES.md names the cases but gives
no shares, and no source in the repository gives them for a real Groove
account. The same holds for the share of customers already in
HelpScout, the share of messages with attachments, the attachment sizes
and the body lengths. The shares below are small enough that most
records take the plain path, and large enough that each case occurs at
least twice in a 1,000-ticket corpus. They set how much of each Process pass goes
through the error side channel.

``fault_schedule(seed, paths, rate)`` picks the GET paths a server
answers with 429 / 5xx before succeeding, from the same kind of seed.
"""

from __future__ import annotations

import base64
import random
from collections import Counter

ATTACH_SIZE_CAP = 10_485_760  # the pipeline's P14 cap (TicketProcessor.php:301)

MESSAGES_PER_TICKET = 4
CUSTOMERS_PER_TICKET = 0.25
N_AGENTS = 20

# customer edge cases, as shares of all customers
CUSTOMER_SHARES = {
    "multi_email": 0.05,      # "a@x.com;b@y.org" -> split into two emails
    "invalid_email": 0.02,    # "a@x.com invalid-email" -> InvalidEmailWarning
    "no_space_name": 0.03,    # "Bob" -> last name NULL
    "long_last": 0.02,        # last name > 40 chars -> TruncationWarning
    "long_first": 0.01,       # first name > 40 chars -> TruncationWarning
    "phone_name": 0.02,       # "+1 555 0102" as the name
    "long_title": 0.02,       # job title > 60 chars -> TruncationWarning
    "long_org": 0.02,         # company > 60 chars -> TruncationWarning
}
HS_KNOWN_SHARE = 0.6          # plain customers already in HelpScout

# ticket edge cases, as shares of all tickets (at most one per ticket)
TICKET_SHARES = {
    "no_link": 0.02,          # no customer link -> conversation error
    "non_email_id": 0.02,     # customers/cust-<k>: unresolvable -> error
    "unknown_state": 0.01,    # state 'bogus' -> error
    "duplicate": 0.01,        # already in HelpScout -> J5 dedup skip
    "unknown_mailbox": 0.03,  # mailbox missing in HelpScout -> default box
}

# message edge cases, as shares of all messages (at most one per message)
MESSAGE_SHARES = {
    "ghost_agent": 0.01,      # agent maps to no HelpScout user -> thread error
    "unlisted_agent": 0.005,  # agent id missing from the directory -> error
    "bad_href": 0.005,        # unparseable author href -> thread error
    "customer_note": 0.02,    # note by the ticket's own customer
}
ATTACH_MESSAGE_SHARE = 0.10   # messages carrying an attachments link
ATTACH_SHARES = {
    "unreachable": 0.05,      # download failed -> AttachmentMigrationFailure
    "oversize": 0.03,         # size > cap -> AttachmentSizeWarning
}

MAILBOXES = ["Support", "Billing", "Sales", "Returns"]
HS_MAILBOXES = [(10, "Support"), (11, "BILLING"), (12, "Default"),
                (13, "sales"), (14, "Returns")]
STATES = ["unread", "opened", "pending", "closed", "spam"]
TAGS = ["bug", "billing", "idea", "ui", "urgent", "refund", "login", "api"]
MAGIC = {
    "png": b"\x89PNG\r\n\x1a\n",
    "jpg": b"\xff\xd8\xff\xe0",
    "pdf": b"%PDF-1.4",
    "gif": b"GIF89a",
}

WORDS = (
    "account billing charge login password reset invoice refund order "
    "shipping delay broken error page mobile app update sync export import "
    "report dashboard team member invite permission access token api key "
    "webhook integration plan upgrade downgrade cancel trial receipt card "
    "address email notification setting profile screenshot attached thanks "
    "please help urgent problem question feature request workaround"
).split()
GROOVE = "https://api.groovehq.com/v1"


def _exact_assign(rng: random.Random, n: int, shares: dict[str, float]) -> list:
    """-> one label per record: round(share * n) records per label, the
    rest None, in a seeded order."""
    labels: list = []
    for name, share in shares.items():
        labels += [name] * round(share * n)
    if len(labels) > n:
        raise ValueError("edge-case shares exceed 100%")
    labels += [None] * (n - len(labels))
    rng.shuffle(labels)
    return labels


def _html_body(rng: random.Random, paragraphs: list[str]) -> str:
    k = rng.randint(1, 4)
    return "".join(f"<p>{rng.choice(paragraphs)}</p>" for _ in range(k))


def _ts(rng: random.Random) -> str:
    day = rng.randrange(0, 300)
    month, dom = 1 + day // 28 % 12, 1 + day % 28
    return (f"2016-{month:02d}-{dom:02d} {rng.randrange(24):02d}:"
            f"{rng.randrange(60):02d}:{rng.randrange(60):02d}")


def make_corpus(seed: int, n_tickets: int) -> dict:
    """-> {"tables": {name: [record dict]}, "expected": {...}}."""
    rng = random.Random(seed)
    # paragraph lengths are fixed (20..90 words), not drawn, so the corpus
    # size, and with it the work of a pass, barely varies with the seed
    paragraphs = [
        " ".join(rng.choice(WORDS) for _ in range(20 + 70 * i // 63))
        for i in range(64)
    ]
    n_customers = max(8, int(n_tickets * CUSTOMERS_PER_TICKET))

    # ---- agents: directory ids -> emails; HS users for all but ghost ----
    agents = [f"agent{i}@co.com" for i in range(1, N_AGENTS + 1)]
    agent_dir = [
        {"agent_id": f"agent-{i}",
         "email": e.upper() if i % 5 == 0 else e}  # case differs from HS
        for i, e in enumerate(agents, start=1)
    ]
    agent_dir.append({"agent_id": "agent-ghost", "email": "ghost@co.com"})
    hs_users = [
        {"id": 100 + i, "firstName": "Agent", "lastName": f"N{i}", "email": e}
        for i, e in enumerate(agents)
    ]

    # ---- customers ----
    cust_kind = _exact_assign(rng, n_customers, CUSTOMER_SHARES)
    customers, plain = [], []
    warn = Counter()
    for i, kind in enumerate(cust_kind):
        email = f"cust{i}@ex{i % 7}.com"
        first, last = f"First{i}", f"Last{i}"
        name = f"{first} {last}"
        title = rng.choice([None, "CTO", "Support Lead", "Engineer"])
        org = rng.choice([None, "Acme", "Globex", "Initech"])
        if kind == "multi_email":
            email = f"{email};alt{i}@ex.org"
        elif kind == "invalid_email":
            email = f"{email} invalid-email"
            warn["InvalidEmailWarning"] += 1
        elif kind == "no_space_name":
            name = first
        elif kind == "long_last":
            name = f"{first} {'Z' * 45}"
            warn["TruncationWarning"] += 1
        elif kind == "long_first":
            name = f"{'Y' * 45} {last}"
            warn["TruncationWarning"] += 1
        elif kind == "phone_name":
            email, name = f"+1555{i:06d}@sms.ex", f"+1 555 {i:06d}"
        elif kind == "long_title":
            title = "Chief " + "X" * 60
            warn["TruncationWarning"] += 1
        elif kind == "long_org":
            org = "Org" + "W" * 60
            warn["TruncationWarning"] += 1
        customers.append({
            "email": email, "name": name,
            "about": rng.choice([None, "vip", "trial user"]),
            "twitter_username": rng.choice([None, f"tw{i}"]),
            "linkedin_username": rng.choice([None, f"li-{i}"]),
            "title": title, "company_name": org,
            "phone_number": rng.choice([None, f"555-{i:04d}"]),
            "location": rng.choice([None, "Toronto", "Berlin"]),
            "website_url": rng.choice([None, f"https://c{i}.example"]),
        })
        if kind not in ("multi_email", "invalid_email"):
            plain.append(email)
    in_hs = set(rng.sample(plain, int(len(plain) * HS_KNOWN_SHARE)))
    hs_customers = [
        {"id": 1000 + j, "email": e.upper() if j % 4 == 0 else e}
        for j, e in enumerate(sorted(in_hs))
    ]

    # ---- tickets ----
    t_kind = _exact_assign(rng, n_tickets, TICKET_SHARES)
    tickets, existing = [], []
    conv_errors = 0
    good_tickets: set[int] = set()
    for i, kind in enumerate(t_kind):
        number = i + 1
        cust = rng.choice(plain)
        href = f"{GROOVE}/customers/{cust}"
        state = rng.choice(STATES)
        mailbox = rng.choice(MAILBOXES)
        title = f"T{number} {rng.choice(WORDS)} {rng.choice(WORDS)}"
        created = _ts(rng)
        if kind == "no_link":
            href = None
        elif kind == "non_email_id":
            href = f"{GROOVE}/customers/cust-{number}"  # resolves nowhere
        elif kind == "unknown_state":
            state = "bogus"
        elif kind == "duplicate":
            existing.append({"number": 50_000 + number,
                             "subject": title.upper(), "modifiedAt": created})
        elif kind == "unknown_mailbox":
            mailbox = "Nonexistent Box"
        tag_pick = rng.random()
        tags = (None if tag_pick < 0.3 else [] if tag_pick < 0.5
                else sorted(rng.sample(TAGS, rng.randint(1, 3))))
        tickets.append({
            "number": number, "title": title,
            "summary": " ".join(rng.choice(WORDS) for _ in range(6)),
            "state": state, "mailbox": mailbox, "tags": tags,
            "created_at": created,
            "links": {"customer": {"href": href},
                      "assignee": {"href": f"{GROOVE}/agents/agent-{rng.randint(1, N_AGENTS)}"}},
        })
        if kind in ("no_link", "non_email_id", "unknown_state"):
            conv_errors += 1
        elif kind != "duplicate":
            good_tickets.add(number)
    # HelpScout conversations that match no ticket (noise for the J5 join)
    existing += [{"number": 90_000 + k, "subject": f"OLD {k}",
                  "modifiedAt": "2015-01-01 00:00:00"} for k in range(10)]

    # ---- messages + attachments ----
    n_messages = n_tickets * MESSAGES_PER_TICKET
    m_kind = _exact_assign(rng, n_messages, MESSAGE_SHARES)
    m_attach = _exact_assign(
        rng, n_messages, {"attach": ATTACH_MESSAGE_SHARE})
    owners = [1 + (k * n_tickets) // n_messages for k in range(n_messages)]
    rng.shuffle(owners)
    messages, att_msgs = [], []
    thread_err = 0
    for k, (kind, number) in enumerate(zip(m_kind, owners)):
        mid = f"m{k}"
        ticket = tickets[number - 1]
        cust_href = ticket["links"]["customer"]["href"]
        note, agent_resp = False, False
        style = rng.random()
        if kind == "ghost_agent":
            author = f"{GROOVE}/agents/agent-ghost"
            agent_resp = True
        elif kind == "unlisted_agent":
            author = f"{GROOVE}/agents/agent-999"
            agent_resp = True
        elif kind == "bad_href":
            author = "https://elsewhere.example/people/42"
        elif kind == "customer_note" and cust_href is not None:
            author, note = cust_href, True
        elif style < 0.45 or cust_href is None:
            author = f"{GROOVE}/agents/agent-{rng.randint(1, N_AGENTS)}"
            agent_resp = True
        elif style < 0.6:
            author = f"{GROOVE}/agents/agent-{rng.randint(1, N_AGENTS)}"
            note = True
        else:
            author = cust_href
        fails_thread = kind in ("ghost_agent", "unlisted_agent", "bad_href")
        good_msg = number in good_tickets and not fails_thread
        if number in good_tickets and fails_thread:
            thread_err += 1
        attach_href = None
        if m_attach[k] == "attach":
            attach_href = f"{GROOVE}/attachments?message={mid}"
            att_msgs.append((mid, good_msg))
        recipient = cust_href if agent_resp and rng.random() < 0.5 else None
        messages.append({
            "ticket_number": number, "message_id": mid,
            "note": note, "agent_response": agent_resp,
            "body": _html_body(rng, paragraphs),
            "created_at": _ts(rng), "href": f"{GROOVE}/messages/{mid}",
            "links": {"author": {"href": author},
                      "recipient": {"href": recipient},
                      "attachments": {"href": attach_href}},
        })
    per_msg = [1 if k % 3 else 2 for k in range(len(att_msgs))]
    a_kind = _exact_assign(rng, sum(per_msg), ATTACH_SHARES)
    attachments = []
    size_warn = attach_fail = 0
    a = 0
    for (mid, good_msg), n_files in zip(att_msgs, per_msg):
        for _ in range(n_files):
            ext = rng.choice(sorted(MAGIC))
            data = MAGIC[ext] + bytes(rng.randrange(256) for _ in range(8))
            size = rng.randint(1_000, 2_000_000)
            if a_kind[a] == "unreachable":
                data = None
                attach_fail += good_msg
            elif a_kind[a] == "oversize":
                size = ATTACH_SIZE_CAP + rng.randint(1, 10_000_000)
                size_warn += good_msg
            attachments.append({
                "message_id": mid, "filename": f"file{a}.{ext}", "size": size,
                "url": f"https://files.example/{a}.{ext}",
                "data_b64": None if data is None else base64.b64encode(data).decode(),
            })
            a += 1

    n_dup = round(TICKET_SHARES["duplicate"] * n_tickets)
    expected = {
        "tickets": n_tickets,
        "messages": n_messages,
        "customers": n_customers,
        "dedup_skips": n_dup,
        "validation_drops": conv_errors,
        "conversations": n_tickets - n_dup - conv_errors,
        "published_conversations": sorted(good_tickets),
        "published_customers": sorted(c["email"] for c in customers),
        "errors": {
            "ValidationException": conv_errors + thread_err,
            "AttachmentSizeWarning": size_warn,
            "AttachmentMigrationFailure": attach_fail,
        },
        "warnings": dict(sorted(warn.items())),
    }
    tables = {
        "customers": customers,
        "tickets": tickets,
        "messages": messages,
        "attachments": attachments,
        "mailboxes": [{"name": m} for m in MAILBOXES],
        "agents": [{"email": e} for e in agents],
        "agent_dir": agent_dir,
        "hs_mailboxes": [{"id": i, "name": n, "email": f"{n.lower()}@co.com"}
                         for i, n in HS_MAILBOXES],
        "hs_users": hs_users,
        "hs_customers": hs_customers,
        "hs_conversations": existing,
    }
    return {"tables": tables, "expected": expected}


def fault_schedule(seed: int, paths: list[str], rate: float = 0.02) -> dict:
    """-> {path: [(status, retry_after or None), ...]} served before the
    200, for ``round(rate * len(paths))`` seeded paths. The faults cycle
    through 429 with Retry-After, bare 429, 503 and 500; one path in five
    fails twice. The schedule never exceeds the client's
    retry budget, so every path eventually succeeds."""
    rng = random.Random(seed ^ 0x5EED)
    chosen = sorted(rng.sample(sorted(paths), round(rate * len(paths))))
    kinds = [(429, "0.02"), (429, None), (503, None), (500, None)]
    schedule = {}
    for i, path in enumerate(chosen):
        faults = [kinds[i % 4]]
        if i % 5 == 4:
            faults.append(kinds[(i + 1) % 4])
        schedule[path] = faults
    return schedule
