"""sync-tickets pipeline (SURVEY.md section 3.2; reference:
app/Console/Commands/SyncTickets.php + Processors/TicketProcessor.php).

The reference's nested per-ticket loops (ticket -> messages ->
attachments -> author lookups) become one pass per grain, each relation
read once per query:

    attachments --P13 sniff, K3 md5 (binary dropped map-side)-->
      groupBy(att message id): sorted OK structs, failed (url, filename),
      P14 oversize error rows                                   [att grain]
    messages --J3/P9 broadcast author dims-->
      --left join att grain on the attachment-link message id-->
      thread struct + P15 synthetic notes, or the thread error;
      attachment error rows                                     [msg grain]
      --groupBy(ticket_number): raw threads, message errors-->  [ticket grain]
    tickets --J6 validate (eager)--> --J5 dedup anti-join-->
      --J1 mailbox, P6/P11/J4 customer broadcast joins--> base
      --left join ticket grain on number-->
        conversations: tickets with no conversation error; threads get the
          P8 note-by-customer override and the ticket status, then
          array_sort, then the sort-only fields are dropped
        errors: explode of the conversation error, else of the message
          errors

Error isolation (T4): a failed THREAD precursor never kills its
conversation unless the conversation itself is invalid; every failure is
an (error_type, detail) struct built where it is found, never an
exception. Message errors come only from tickets that pass conversation
validation.

Scale: mailbox/user/customer/conversation dims broadcast; the
attachment and ticket aggregates are fact-sized and carry no hint. The
shuffles are the attachment group, the message group-back and the
base join, the last two on the ticket number. Attachment bytes are
hashed before the attachment group (T6), so no shuffle carries
binaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from types import SimpleNamespace

from ..functions import (
    groove_state_to_helpscout_status,
    is_valid_email,
    link_kind,
    extract_link_id,
    to_iso8601,
)
from ..observability import PipelineMetrics
from ..operators import dedup_anti_join, run_validations, validation_anti_join

ATTACH_SIZE_CAP = 10_485_760  # TicketProcessor.php:301
ATTACH_MSG_RE = r"attachments\?message=(.*)$"
_ATTACHMENTS_TYPE = "array<struct<fileName:string,mimeType:string,size:bigint,hash:string>>"


def _error(error_type: str, detail: Column) -> Column:
    """One error side-channel row, as the struct both outputs carry."""
    return F.struct(F.lit(error_type).alias("error_type"), detail.alias("detail"))


def _resolve_customer(base: DataFrame, hs_customers: DataFrame, groove_customers: DataFrame) -> DataFrame:
    """P6/P11 + J4 enrichment cascade for the ticket's customer link."""
    base = base.withColumn("cust_link_id", extract_link_id(F.col("links.customer.href")))
    base = base.withColumn(
        "cust_is_email",
        F.col("links.customer.href").isNotNull() & is_valid_email(F.col("cust_link_id")),
    )
    hs = hs_customers.select(
        F.lower(F.col("email")).alias("hs_email"), F.col("id").alias("hs_customer_id")
    )
    gr = groove_customers.select(
        F.lower(F.col("email")).alias("gr_email"), F.col("name").alias("gr_name")
    )
    return (
        base.join(F.broadcast(hs), F.lower(F.col("cust_link_id")) == F.col("hs_email"), "left")
        .join(F.broadcast(gr), F.lower(F.col("cust_link_id")) == F.col("gr_email"), "left")
        .withColumn(
            "customer_ref",
            F.when(
                F.col("hs_customer_id").isNotNull(),
                F.struct(
                    F.lit("customer").alias("type"),
                    F.col("hs_customer_id").cast("string").alias("id"),
                    F.col("cust_link_id").alias("email"),
                ),
            ).when(
                F.col("gr_name").isNotNull(),
                F.struct(
                    F.lit("customer").alias("type"),
                    F.lit(None).cast("string").alias("id"),
                    F.col("cust_link_id").alias("email"),
                ),
            ),
        )
    )


def build_conversations(
    groove: SimpleNamespace,
    hs: SimpleNamespace,
    check_duplicates: bool = True,
    bypass_validation: bool = False,
    default_mailbox_id: int | None = 12,
    default_user_id: int | None = 100,
    timezone: str | None = None,
    metrics: "PipelineMetrics | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """-> (conversations, errors). ``groove``/``hs`` carry the fixture-shaped
    DataFrames (sources/fixtures.py); live adapters produce the same shapes.

    ``metrics`` (observability.PipelineMetrics) observes per-phase row
    counts inside the pipeline's own action -- the K5/A4 progress
    surface, zero extra jobs.
    """
    def _track(df: DataFrame, step: str) -> DataFrame:
        return metrics.track(df, step) if metrics is not None else df

    # ---- Phase 1: fail-fast validation (J6; SyncTickets.php:70-115) ----
    run_validations(
        [
            validation_anti_join(
                groove.mailboxes, hs.mailboxes, F.col("name"), F.col("name"),
                "mailbox_missing", F.col("name"),
            ),
            validation_anti_join(
                groove.agents, hs.users,
                groove.agents["email"], hs.users["email"],
                "agent_missing", groove.agents["email"],
            ),
        ],
        bypass=bypass_validation,
    )

    tickets = _track(groove.tickets, "tickets_in")

    # ---- Phase 2: duplicate skip (J5; TicketProcessor.php:353-372) ----
    if check_duplicates:
        existing = hs.conversations.select(
            F.col("modifiedAt").alias("e_modified"),
            F.lower(F.col("subject")).alias("e_subject"),
        )
        tickets = dedup_anti_join(
            tickets, existing,
            [(F.col("created_at"), F.col("e_modified")),
             (F.lower(F.col("title")), F.col("e_subject"))],
        )

    # ---- Phase 3: conversation base (J1, P6/P11/J4, P7, P10, P16) ----
    mb = hs.mailboxes.select(
        F.lower(F.col("name")).alias("mb_name"), F.col("id").alias("mb_id")
    )
    base = (
        tickets.join(F.broadcast(mb), F.lower(F.col("mailbox")) == F.col("mb_name"), "left")
        .withColumn("mailbox_defaulted", F.col("mb_id").isNull())
        .withColumn("mailbox_id", F.coalesce(F.col("mb_id"), F.lit(default_mailbox_id)))
    )
    base = _resolve_customer(base, hs.customers, groove.customers)
    base = (
        base.withColumn("status", groove_state_to_helpscout_status(F.col("state")))
        .withColumn("created_at_iso", to_iso8601(F.to_timestamp("created_at"), timezone))
        .withColumn(
            "tags_out",
            F.when(F.size(F.coalesce(F.col("tags"), F.array().cast("array<string>"))) > 0, F.col("tags")),
        )
    )

    # per-record conversation errors (T4: record skipped, pipeline continues)
    ticket_tag = F.concat(
        F.lit(" [ticket "), F.col("number"), F.lit(": "), F.col("summary"), F.lit("]")
    )
    conv_error = (
        F.when(F.col("links.customer.href").isNull(),
               _error("ValidationException", F.concat(F.lit("ticket has no customer link"), ticket_tag)))
        .when(F.col("customer_ref").isNull(),
              _error("ValidationException", F.concat(F.lit("customer could not be resolved"), ticket_tag)))
        .when(F.col("status").isNull(),
              _error("ValidationException", F.concat(F.lit("unknown ticket state"), ticket_tag)))
        .when(F.col("mailbox_id").isNull(),
              _error("ValidationException", F.concat(F.lit("no mailbox and no default"), ticket_tag)))
    )
    base = base.withColumn("_conv_error", conv_error)

    # ---- Phase 4: attachment grain (S6/S13/K3/P13/P14/P15) ----
    # P13 MIME sniff from magic bytes (JVM-side hex prefix, no UDF) and K3
    # content hash, both projected BELOW the aggregate: the binary is
    # consumed map-side and never crosses the shuffle (T6)
    hex_prefix = F.upper(F.hex(F.substring(F.col("data"), 1, 4)))
    sniffed = groove.attachments.select(
        F.col("message_id").alias("att_src_msg_id"),
        "filename", "size", "url",
        F.when(F.col("data").isNull(), F.lit(None).cast("string"))
        .when(hex_prefix.startswith("89504E47"), "image/png")
        .when(hex_prefix.startswith("FFD8"), "image/jpeg")
        .when(hex_prefix.startswith("25504446"), "application/pdf")
        .when(hex_prefix.startswith("47494638"), "image/gif")
        .otherwise("application/octet-stream").alias("mime"),
        F.md5(F.col("data")).alias("content_hash"),
    )
    ok_atts = F.collect_list(F.when(
        F.col("content_hash").isNotNull(),
        F.struct(
            F.col("filename").alias("fileName"),
            F.col("mime").alias("mimeType"),
            F.col("size").alias("size"),
            F.col("content_hash").alias("hash"),
        ),
    ))
    att_agg = sniffed.groupBy("att_src_msg_id").agg(
        # NULL, not [], for a message with no OK attachment
        F.when(F.size(ok_atts) > 0, F.sort_array(ok_atts)).alias("ok_atts"),
        # P15: failed download (data NULL) -> synthetic note + error row
        F.collect_list(F.when(
            F.col("content_hash").isNull(), F.struct("url", "filename")
        )).alias("failed_atts"),
        # P14 size warnings (side output, record continues)
        F.collect_list(F.when(
            F.col("size") > ATTACH_SIZE_CAP,
            _error("AttachmentSizeWarning", F.concat(
                F.col("filename"), F.lit(" is "), F.col("size"),
                F.lit(" bytes (cap "), F.lit(ATTACH_SIZE_CAP), F.lit(")"),
            )),
        )).alias("size_warnings"),
    )

    # ---- Phase 5: message grain (P8/P9/J3/P17 + the attachment aggregate) ----
    msgs = groove.messages.withColumn(
        "author_kind", link_kind(F.col("links.author.href"))
    ).withColumn("author_id", extract_link_id(F.col("links.author.href")))

    # P9/J3: author PersonRef. Agent authors resolve agent_id -> email
    # (S8 directory) -> HS user (J3); miss FAILS THE RECORD (thread).
    adir = groove.agent_dir.select(
        F.col("agent_id").alias("a_id"), F.lower(F.col("email")).alias("a_email")
    )
    users = hs.users.select(
        F.lower(F.col("email")).alias("u_email"), F.col("id").alias("u_id")
    )
    hs_cust = hs.customers.select(
        F.lower(F.col("email")).alias("hc_email"), F.col("id").alias("hc_id")
    )
    att_link = F.regexp_extract(F.col("links.attachments.href"), ATTACH_MSG_RE, 1)
    # att_agg is one row per message-with-attachments (data-sized): no
    # broadcast hint, AQE broadcasts it when it is genuinely small. An
    # unmatched link extracts "", which must not match an attachment.
    msgs = (
        msgs.join(F.broadcast(adir), F.col("author_id") == F.col("a_id"), "left")
        .join(F.broadcast(users), F.col("a_email") == F.col("u_email"), "left")
        .join(
            F.broadcast(hs_cust),
            (F.col("author_kind") == "customer")
            & (F.lower(F.col("author_id")) == F.col("hc_email")),
            "left",
        )
        .withColumn("att_msg_id", F.when(att_link != "", att_link))
        .join(att_agg, F.col("att_msg_id") == F.col("att_src_msg_id"), "left")
    )
    created_by = F.when(
        F.col("author_kind") == "agent",
        F.when(
            F.col("u_id").isNotNull(),
            F.struct(
                F.lit("user").alias("type"),
                F.col("u_id").cast("string").alias("id"),
                F.col("a_email").alias("email"),
            ),
        ),
    ).when(
        F.col("author_kind") == "customer",
        F.struct(
            F.lit("customer").alias("type"),
            F.col("hc_id").cast("string").alias("id"),
            F.lower(F.col("author_id")).alias("email"),
        ),
    )
    # thread-level error: agent author with no HS user (J3 miss)
    msgs = msgs.withColumn(
        "_thread_error_detail",
        F.when(
            (F.col("author_kind") == "agent") & F.col("u_id").isNull(),
            F.concat(F.lit("no HelpScout user for author of message "), F.col("message_id")),
        ).when(
            F.col("author_kind") == "error",
            F.concat(F.lit("unparseable author href on message "), F.col("message_id")),
        ),
    )
    thread_ok = F.col("_thread_error_detail").isNull()
    thread = F.struct(
        F.lit(0).alias("seq_group"),  # synthetic notes sort after real threads
        F.col("created_at"),
        F.col("message_id"),
        # P8; the note-by-ticket-customer override needs the ticket and is
        # applied at the ticket grain through cust_note_email
        F.when(F.col("note"), "note")
        .when(F.col("agent_response"), "message")
        .otherwise("customer").alias("type"),
        F.col("body"),
        to_iso8601(F.to_timestamp("created_at"), timezone).alias("createdAt"),
        created_by.alias("createdBy"),
        # P17 recipient -> toList
        F.when(
            F.col("links.recipient.href").isNotNull(),
            F.array(extract_link_id(F.col("links.recipient.href"))),
        ).alias("toList"),
        F.col("ok_atts").alias("attachments"),
        F.when(
            F.col("note") & (F.col("author_kind") == "customer"),
            F.lower(F.col("author_id")),
        ).alias("cust_note_email"),
    )
    # P15: a failed download becomes a note linking the original URL,
    # authored by default_user_id (TicketProcessor.php:313-333)
    synthetic_notes = F.transform(F.col("failed_atts"), lambda a: F.struct(
        F.lit(1).alias("seq_group"),
        F.lit(None).cast("string").alias("created_at"),
        F.lit("synthetic").alias("message_id"),
        F.lit("note").alias("type"),
        F.concat(
            F.lit("Attachment could not be migrated: <a href=\""), a["url"],
            F.lit("\">"), a["filename"], F.lit("</a>"),
        ).alias("body"),
        F.lit(None).cast("string").alias("createdAt"),
        F.struct(
            F.lit("user").alias("type"),
            F.lit(str(default_user_id)).alias("id"),
            F.lit(None).cast("string").alias("email"),
        ).alias("createdBy"),
        F.lit(None).cast("array<string>").alias("toList"),
        F.lit(None).cast(_ATTACHMENTS_TYPE).alias("attachments"),
        F.lit(None).cast("string").alias("cust_note_email"),
    ))
    attach_failures = F.transform(F.col("failed_atts"), lambda a: _error(
        "AttachmentMigrationFailure", F.concat(F.lit("failed to download "), a["url"])
    ))
    # a message with a thread error yields only that error: no thread,
    # no attachment handling
    msgs = msgs.select(
        "ticket_number",
        F.when(thread_ok, thread).alias("thread"),
        F.when(thread_ok, synthetic_notes).alias("notes"),
        F.when(~thread_ok, _error("ValidationException", F.col("_thread_error_detail")))
        .alias("thread_error"),
        F.when(thread_ok, F.concat(F.col("size_warnings"), attach_failures)).alias("att_errors"),
    )

    # ---- Phase 6: ticket grain (one group-back; collect_list skips NULLs) ----
    # per_ticket is fact-sized: no broadcast hint, same reason as att_agg
    per_ticket = msgs.groupBy("ticket_number").agg(
        F.concat(
            F.collect_list("thread"), F.flatten(F.collect_list("notes"))
        ).alias("raw_threads"),
        F.concat(
            F.collect_list("thread_error"), F.flatten(F.collect_list("att_errors"))
        ).alias("msg_errors"),
    )
    joined = base.join(per_ticket, F.col("number") == F.col("ticket_number"), "left")

    # ---- Phase 7: both outputs project the one ticket-grain frame ----
    # P8 override (case-insensitive, P12): a note authored by the ticket's
    # customer email is a customer thread (TicketProcessor.php:76-83)
    def _finalize(t: Column) -> Column:
        return F.struct(
            t["seq_group"].alias("seq_group"),
            t["created_at"].alias("created_at"),
            t["message_id"].alias("message_id"),
            F.when(t["cust_note_email"] == F.lower(F.col("cust_link_id")), "customer")
            .otherwise(t["type"]).alias("type"),
            t["body"].alias("body"),
            t["createdAt"].alias("createdAt"),
            F.col("status").alias("status"),
            t["createdBy"].alias("createdBy"),
            t["toList"].alias("toList"),
            t["attachments"].alias("attachments"),
        )

    threads = F.transform(
        F.array_sort(F.transform(F.col("raw_threads"), _finalize)),
        lambda s: s.dropFields("seq_group", "created_at", "message_id"),
    )
    conversations = (
        joined.filter(F.col("_conv_error").isNull())
        .select(
            F.col("number").alias("groove_ticket_number"),  # lineage column
            F.lit("email").alias("type"),
            F.col("title").alias("subject"),
            F.col("mailbox_id"),
            F.col("mailbox_defaulted"),
            F.col("tags_out").alias("tags"),
            F.col("customer_ref").alias("customer"),
            F.col("customer_ref").alias("createdBy"),
            F.col("created_at_iso").alias("createdAt"),
            F.col("status"),
            F.coalesce(
                threads,
                F.array().cast(
                    "array<struct<type:string,body:string,createdAt:string,"
                    "status:string,createdBy:struct<type:string,id:string,email:string>,"
                    f"toList:array<string>,attachments:{_ATTACHMENTS_TYPE}>>"
                ),
            ).alias("threads"),
            F.lit(True).alias("imported"),  # K2: imported=true, prevents spam
        )
    )

    # a ticket with a conversation error yields that error alone; a valid
    # ticket yields its messages' errors
    errors = joined.select(
        F.explode(
            F.when(F.col("_conv_error").isNotNull(), F.array("_conv_error"))
            .otherwise(F.col("msg_errors"))
        ).alias("e")
    ).select("e.error_type", "e.detail")
    return _track(conversations, "conversations_out"), _track(errors, "errors_out")


def view_ticket(tickets: DataFrame, number: int) -> DataFrame:
    """view-ticket command (SURVEY.md section 3.3): point lookup by number."""
    return tickets.filter(F.col("number") == number)
