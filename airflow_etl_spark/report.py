"""Reporting — completion/error/drift summaries and HTML rendering
(reference `utlis/send_email.py`, SURVEY.md §2.4 A2/A4/A5, §2.8 F10/F11).

The reference builds its completion email from count-distinct roll-ups over
the per-model checkpoint table (send_email.py:430-491), error details from
the task ledger (:703-811, including `dag_id.split('__')[2]` layer
extraction :780), and renders pandas to_html into stored templates
(:83-84, :569-575, :646-650). SMTP delivery is a side effect outside the
data plane; the engine renders to rows/strings and leaves delivery to the
caller (the email_notification sink shape is preserved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .functions import try_split_part


def checkpoint_rollup(checkpoint_df: DataFrame) -> DataFrame:
    """Per (source_name, schema_name): total distinct models vs succeeded
    distinct models — the completion-email counters
    (send_email.py:430-434,450-453,469-472,488-491)."""
    return checkpoint_df.groupBy("source_name", "schema_name").agg(
        F.countDistinct("name").alias("n_models"),
        F.countDistinct(
            F.when(F.col("status") == "success", F.col("name"))
        ).alias("n_success"),
    )


def rollup_totals(rollup_df: DataFrame) -> DataFrame:
    """Grand totals per schema layer (the {{total_staging}}/{{total_vault}}
    placeholders; dict-accumulation at send_email.py:554-567)."""
    return rollup_df.groupBy("schema_name").agg(
        F.sum("n_models").alias("total_models"),
        F.sum("n_success").alias("total_success"),
    )


def error_details(status_df: DataFrame) -> DataFrame:
    """Failed tasks with the layer extracted from the dag id —
    `dag_id.split('__')[2]` (1-based [2] in the reference's pandas code is
    0-based index 2 = third segment: {NN}__{source}__{layer},
    send_email.py:780) — and per-dag error counts (:802,807)."""
    failed = status_df.filter(~F.col("status").isin("success", "skipped"))
    return failed.select(
        "run_id",
        "source_name",
        "dag_id",
        "task_id",
        "status",
        try_split_part("dag_id", "__", 3).alias("layer"),
    )


def error_counts(status_df: DataFrame) -> DataFrame:
    failed = status_df.filter(~F.col("status").isin("success", "skipped"))
    return failed.groupBy("dag_id").agg(F.count(F.lit(1)).alias("n_errors"))


def to_html_table(df: DataFrame) -> str:
    """Presentation rendering, driver-side by design (F11): the inputs are
    control-table sized."""
    return df.toPandas().to_html(index=False)


def render_template(template: str, replacements: dict[str, str]) -> str:
    """`template.replace('{{key}}', value)` chain (send_email.py:646-650)."""
    out = template
    for key, value in replacements.items():
        out = out.replace("{{" + key + "}}", str(value))
    return out


class SMTPTransport:
    """Real SMTP delivery (stdlib smtplib) — the EmailOperator analog
    (S16, dag_etlpipeline__root.py:135-142). One connection per
    `deliver_pending` call; HTML body sent as text/html."""

    def __init__(self, host: str, port: int = 25, sender: str = "etl-engine@localhost"):
        self.host, self.port, self.sender = host, port, sender

    def send(self, recipient: str, subject: str, body_html: str) -> None:
        import smtplib
        from email.mime.text import MIMEText

        msg = MIMEText(body_html, "html")
        msg["Subject"] = subject
        msg["From"] = self.sender
        msg["To"] = recipient
        with smtplib.SMTP(self.host, self.port, timeout=30) as smtp:
            smtp.sendmail(self.sender, [recipient], msg.as_string())


def deliver_pending(spark, notification_path: str, transport) -> int:
    """Deliver every 'pending' email_notification row through `transport`
    (SMTPTransport or any .send(recipient, subject, html) object), then
    flip delivered rows to 'sent' via an atomic table commit. Returns the
    number delivered. Control-table scale: rows collect to the driver by
    design (the reference's EmailOperator likewise runs driver-side)."""
    from pyspark.sql import functions as F

    from .sources import read_table, txn

    df = read_table(spark, notification_path)
    pending = df.filter(F.col("status") == "pending").collect()
    sent_ids = []
    for r in pending:
        transport.send(r.recipient_email, r.email_subject, r.email_body)
        sent_ids.append((r.run_id, r.recipient_email))
    if sent_ids:
        sent_keys = {f"{a}\x00{b}" for a, b in sent_ids}
        updated = df.withColumn(
            "status",
            F.when(
                F.concat_ws("\x00", "run_id", "recipient_email").isin(
                    list(sent_keys)
                )
                & (F.col("status") == "pending"),
                F.lit("sent"),
            ).otherwise(F.col("status")),
        )
        txn.commit(updated, notification_path)
    return len(sent_ids)


def email_rows(
    spark,
    run_id: str,
    etl_date: str,
    recipients: list[str],
    event_type: str,
    subject: str,
    body_html: str,
) -> DataFrame:
    """email_notification sink rows (FIXTURES.md §3 shape)."""
    rows = [
        (run_id, r, event_type, "pending", subject, body_html, etl_date)
        for r in recipients
    ]
    return spark.createDataFrame(
        rows,
        "run_id string, recipient_email string, event_type string, "
        "status string, email_subject string, email_body string, etl_date string",
    )
