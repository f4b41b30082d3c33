"""Single-pass RAW JSON-LD → RDF statement stream with streaming
key-order enforcement.

Parity: StreamingReader (/root/reference/lib/json/ld/
streaming_reader.rb:29-643). Unlike expand→toRDF, this path walks the
UNEXPANDED document once, in document key order, through a state
machine (await_context → await_type → await_id → properties) and
emits each statement as soon as its subject is known:

  - keys arriving out of streaming order (@context after @type, @type
    after properties, @value/@language/@direction after properties)
    raise ``invalid streaming key order`` / ``colliding keywords``
    exactly where the reference does (streaming_reader.rb:144-156,
    183-186, 218-222, 332-336);
  - statements about a node whose @id has not arrived yet are buffered
    as PROVISIONAL statements under a provisional bnode
    (streaming_reader.rb:97-137); when @id arrives they are rewritten
    and flushed (":199-216"); if no @id ever arrives the provisional
    node simply becomes the node's bnode;
  - container dispatch (language/list/index/id/type/graph maps)
    follows parse_property (streaming_reader.rb:425-575), reverse and
    @json coercion follow emit_object (":578-613"), lists follow the
    streaming parse_list (":617-643": item values first, then the
    rdf:first/rest chain).

The note at streaming_reader.rb:32 applies here too: the JSON text is
parsed up front (Python dicts preserve document key order); the
"streaming" property is single-pass traversal + incremental emission
+ key-order enforcement, exactly as the reference implements it.

Role in the Spark engine: this is the raw-profile PARITY surface, not
the emission hot path — measured head-to-head on pipeline turn docs,
expand_with_context + expanded_to_rdf_stream is ~1.7× faster (its
expand loop is memoization-heavy; the state machine pays per-key
dispatch), so the mapInPandas emitter keeps the expand path and this
module serves arbitrary streaming-profile inputs + conformance.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, Optional

from json_ld_spark.core import errors as err
from json_ld_spark.core.context import Context, Options
from json_ld_spark.core.errors import JsonLdError
from json_ld_spark.core.keywords import (
    LANGTAG_RE,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    BlankNodeMapper,
    BlankNodeNamer,
    is_absolute_iri,
    is_blank_node_id,
    is_keyword,
    is_list_object,
    is_node_reference,
    is_value_object,
)
from json_ld_spark.core.rdf import (
    RDF_JSON,
    Term,
    Triple,
    bnode,
    iri,
    object_to_rdf_literal,
)
from json_ld_spark.core.to_rdf import (
    _valid_object,
    _valid_predicate,
    _valid_subject,
)

Emit = Callable[[Triple], None]

_CONTAINER_INDEX_ID_TYPE = frozenset({"@index", "@id", "@type"})


def _as_array(v: Any) -> list:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


class StreamingReader:
    """One document's streaming parse state (namers + options)."""

    def __init__(self, options: Optional[Options] = None,
                 rename_bnodes: bool = True):
        self.options = options or Options()
        self.namer: BlankNodeNamer = (
            BlankNodeNamer("b") if rename_bnodes else BlankNodeMapper()
        )
        self.provisional_namer = BlankNodeNamer("p")

    # -- helpers ----------------------------------------------------------

    def _as_resource(self, value: str) -> Term:
        if is_blank_node_id(value):
            return bnode(self.namer.get_name(value))
        return iri(value)

    def _fresh_node(self, provisional: bool = False) -> Term:
        namer = self.provisional_namer if provisional else self.namer
        return bnode(namer.get_name())

    @staticmethod
    def _term_def(context: Context, term: Optional[str]):
        return context.terms.get(term) if term else None

    @staticmethod
    def _container(context: Context, term: Optional[str]) -> frozenset:
        d = context.terms.get(term) if term else None
        return d.container if d else frozenset()

    @staticmethod
    def _term_direction(context: Context, term: str) -> Optional[str]:
        d = context.terms.get(term)
        if d is not None and d.direction != "unset":
            return d.direction
        return getattr(context, "default_direction", None)

    # -- entry ------------------------------------------------------------

    def stream(self, document: Any) -> Iterator[Triple]:
        """All statements of ``document``, validity-filtered like
        stream_statement (streaming_reader.rb:48-52)."""
        context = Context(self.options)
        if self.options.expand_context is not None:
            context = context.parse(self.options.expand_context)
        return iter(self.statements(document, context))

    def statements(self, document: Any, context: Context) -> list[Triple]:
        """``stream`` under an already-parsed active ``context``: the
        entry for callers that parse one context for many documents."""
        out: list[Triple] = []

        def emit(st: Triple) -> None:
            if (
                _valid_subject(st.subject)
                and _valid_predicate(st.predicate, False)
                and _valid_object(st.obj)
                and (st.graph is None or _valid_subject(st.graph))
            ):
                out.append(st)

        self.parse_object(document, None, context, emit,
                          graph_is_named=False)
        return out

    # -- parse_object (streaming_reader.rb:74-423) -------------------------

    def parse_object(
        self,
        input_val: Any,
        active_property: Optional[str],
        context: Context,
        emit: Emit,
        subject: Optional[Term] = None,
        predicate: Optional[Term] = None,
        from_map: bool = False,
        extra_type: Optional[Term] = None,
        language: Optional[str] = None,
        node_id: Optional[Term] = None,
        graph_is_named: bool = True,
    ) -> None:
        # bnode predicates deprecated (streaming_reader.rb:81-85)
        if predicate is not None and predicate.kind == "bnode":
            return
        if isinstance(input_val, list):
            for e in input_val:
                self.parse_object(e, active_property, context, emit,
                                  subject=subject, predicate=predicate,
                                  from_map=from_map)
            return

        have_id = False
        node_reference = False
        is_list_or_set = False
        if node_id is None:
            node_id = self._fresh_node(provisional=True)
        provisional: list[Triple] = []
        value_object: dict[str, Any] = {}

        prop_def = self._term_def(context, active_property)
        property_scoped_context = prop_def.context if (
            prop_def is not None and prop_def.has_context
        ) else None

        # revert type-scoped context (streaming_reader.rb:110-119)
        if isinstance(input_val, dict) and context.previous_context is not None:
            expanded_keys = [
                context.expand_iri(k, vocab=True) for k in input_val
            ]
            revert = (
                not from_map
                and "@value" not in expanded_keys
                and expanded_keys != ["@id"]
            )
            if revert:
                context = context.previous_context
        if property_scoped_context is not None:
            context = context.parse(
                property_scoped_context,
                base_url=prop_def.base_url if prop_def else None,
                override_protected=True,
            )
        if not isinstance(input_val, dict):
            input_val = context.expand_value(active_property, input_val)

        if extra_type is not None:
            provisional.append(Triple(node_id, iri(RDF_TYPE), extra_type))

        def node_in(st: Triple) -> bool:
            return (
                st.subject == node_id or st.obj == node_id
                or st.graph == node_id
            )

        def add_statement(st: Triple) -> None:
            if have_id or not node_in(st):
                emit(st)
            else:
                provisional.append(st)

        state = "await_context"
        input_keys = list(input_val.keys()) if isinstance(input_val, dict) else []
        for key in input_keys:
            value = input_val[key]
            expanded_key = context.expand_iri(key, vocab=True)
            if expanded_key == "@context":
                if state != "await_context":
                    raise JsonLdError(
                        err.INVALID_STREAMING_KEY_ORDER,
                        f"found {key} in state {state}",
                    )
                context = context.parse(value)
                state = "await_type"
            elif expanded_key == "@type":
                if state not in ("await_context", "await_type"):
                    raise JsonLdError(
                        err.INVALID_STREAMING_KEY_ORDER,
                        f"found {key} in state {state}",
                    )
                type_scoped = context
                for term in sorted(_as_array(value), key=str):
                    if not isinstance(term, str):
                        raise JsonLdError(
                            err.INVALID_TYPE_VALUE,
                            f"value of @type must be a string: {term!r}",
                        )
                    tdef = type_scoped.terms.get(term)
                    if tdef is not None and tdef.has_context:
                        context = context.parse(
                            tdef.context, base_url=tdef.base_url,
                            propagate=False,
                        )
                    type_iri = type_scoped.expand_iri(
                        term, document_relative=True, vocab=True
                    )
                    if type_iri == "@json":
                        type_iri = RDF_JSON
                    if isinstance(type_iri, str):
                        provisional.append(
                            Triple(node_id, iri(RDF_TYPE),
                                   self._as_resource(type_iri))
                        )
                state = "await_type"
            elif expanded_key == "@id":
                if is_list_or_set:
                    raise JsonLdError(
                        err.INVALID_SET_OR_LIST_OBJECT,
                        f"found {key} in state {state}",
                    )
                if state not in ("await_context", "await_type", "await_id"):
                    raise JsonLdError(
                        err.COLLIDING_KEYWORDS,
                        f"found {key} in state {state}",
                    )
                if not isinstance(value, str):
                    raise JsonLdError(
                        err.INVALID_ID_VALUE,
                        f"value of @id must be a string: {value!r}",
                    )
                node_reference = len(input_val) == 1
                expanded_id = context.expand_iri(value, document_relative=True)
                if expanded_id is None or not isinstance(expanded_id, str):
                    continue
                new_node_id = self._as_resource(expanded_id)
                for st in provisional:
                    emit(Triple(
                        new_node_id if st.subject == node_id else st.subject,
                        st.predicate,
                        new_node_id if st.obj == node_id else st.obj,
                        new_node_id if st.graph == node_id else st.graph,
                    ))
                provisional.clear()
                have_id = True
                node_id = new_node_id
                if subject is not None and predicate is not None:
                    emit(Triple(subject, predicate, node_id))
                state = "properties"
            elif expanded_key == "@direction":
                if state == "properties":
                    raise JsonLdError(
                        err.INVALID_STREAMING_KEY_ORDER,
                        f"found @direction in state {state}",
                    )
                value_object["@direction"] = value
                state = "await_id"
            elif expanded_key == "@graph":
                relevant = [k for k in input_keys if k != key
                            and context.expand_iri(k, vocab=True) != "@context"]

                def graph_emit(st: Triple, _node=node_id,
                               _name=(graph_is_named or bool(relevant))):
                    if _name and st.graph is None:
                        st = Triple(st.subject, st.predicate, st.obj, _node)
                    add_statement(st)

                self.parse_object(value, None, context, graph_emit)
                if state != "properties":
                    state = "await_id"
            elif expanded_key == "@included":
                seen_subject = [False]

                def inc_emit(st: Triple) -> None:
                    seen_subject[0] = True
                    emit(st)

                self.parse_object(value, active_property, context, inc_emit)
                if not seen_subject[0]:
                    raise JsonLdError(
                        err.INVALID_INCLUDED_VALUE,
                        "values of @included must expand to node objects",
                    )
                if state != "properties":
                    state = "await_id"
            elif expanded_key == "@index":
                if state != "properties":
                    state = "await_id"
                if not isinstance(value, str):
                    raise JsonLdError(
                        err.INVALID_INDEX_VALUE,
                        f"Value of @index is not a string: {value!r}",
                    )
            elif expanded_key == "@language":
                if state == "properties":
                    raise JsonLdError(
                        err.INVALID_STREAMING_KEY_ORDER,
                        f"found @language in state {state}",
                    )
                if not isinstance(value, str):
                    raise JsonLdError(
                        err.INVALID_LANGUAGE_TAGGED_STRING,
                        f"@language value must be a string: {value!r}",
                    )
                if not LANGTAG_RE.match(value):
                    return  # warn + drop, streaming_reader.rb:264-267
                language = value
                state = "await_id"
            elif expanded_key == "@list":
                if state not in ("await_context", "await_type", "await_id"):
                    raise JsonLdError(
                        err.INVALID_SET_OR_LIST_OBJECT,
                        f"found {key} in state {state}",
                    )
                is_list_or_set = True
                if subject is not None:
                    node_id = self.parse_list(
                        value, active_property, context, emit
                    )
                state = "properties"
            elif expanded_key == "@nest":
                nest_ctx = context
                if prop_def is not None and prop_def.has_context:
                    nest_ctx = context.parse(
                        prop_def.context, base_url=prop_def.base_url,
                        override_protected=True,
                    )
                for v in _as_array(value):
                    ok = isinstance(v, dict) and not any(
                        nest_ctx.expand_iri(k, vocab=True) == "@value"
                        for k in v
                    )
                    if not ok:
                        raise JsonLdError(err.INVALID_NEST_VALUE, repr(v))
                    self.parse_object(v, active_property, nest_ctx,
                                      add_statement, node_id=node_id)
                if state != "properties":
                    state = "await_id"
            elif expanded_key == "@reverse":
                for item in _as_array(value):
                    if not isinstance(item, dict):
                        item = context.expand_value(active_property, item)
                    if is_value_object(item):
                        raise JsonLdError(err.INVALID_REVERSE_VALUE, repr(item))
                    if is_node_reference(item):
                        raise JsonLdError(
                            err.INVALID_REVERSE_PROPERTY_MAP, repr(item)
                        )
                    if is_list_object(item):
                        raise JsonLdError(
                            err.INVALID_REVERSE_PROPERTY_VALUE, repr(item)
                        )
                    has_own_subject = [False]

                    def rev_emit(st: Triple, _node=node_id,
                                 _item=item) -> None:
                        if st.subject == _node:
                            if st.obj.kind == "literal":
                                raise JsonLdError(
                                    err.INVALID_REVERSE_PROPERTY_VALUE,
                                    repr(_item),
                                )
                            st = Triple(st.obj, st.predicate, st.subject,
                                        st.graph)
                            has_own_subject[0] = True
                        add_statement(st)

                    self.parse_object(item, active_property, context,
                                      rev_emit, node_id=node_id,
                                      predicate=predicate)
                    if not has_own_subject[0]:
                        raise JsonLdError(
                            err.INVALID_REVERSE_PROPERTY_VALUE, repr(item)
                        )
                if state != "properties":
                    state = "await_id"
            elif expanded_key == "@set":
                if state not in ("await_context", "await_type", "await_id"):
                    raise JsonLdError(
                        err.INVALID_SET_OR_LIST_OBJECT,
                        f"found {key} in state {state}",
                    )
                is_list_or_set = True
                self.parse_object(
                    [v for v in _as_array(value) if v is not None],
                    active_property, context, emit,
                    subject=subject, predicate=predicate,
                )
                node_id = None
                state = "properties"
            elif expanded_key == "@value":
                if state == "properties":
                    raise JsonLdError(
                        err.INVALID_STREAMING_KEY_ORDER,
                        f"found @value in state {state}",
                    )
                value_object["@value"] = value
                state = "await_id"
            else:
                if state != "properties":
                    state = "await_id"
                if not is_keyword(expanded_key) and not (
                    isinstance(expanded_key, str)
                    and is_absolute_iri(expanded_key)
                ):
                    continue
                self.parse_property(value, key, context, node_id,
                                    self._as_resource(expanded_key)
                                    if not is_keyword(expanded_key)
                                    else iri(expanded_key),
                                    add_statement)

        # post-loop validation (streaming_reader.rb:351-362)
        if value_object and (have_id or is_list_or_set):
            raise JsonLdError(
                err.INVALID_VALUE_OBJECT, "value object has unknown key: @id"
            )
        if have_id and is_list_or_set:
            raise JsonLdError(
                err.INVALID_SET_OR_LIST_OBJECT, "found @id with @list or @set"
            )

        type_statements = [
            st for st in provisional
            if st.predicate.value == RDF_TYPE and st.graph is None
        ]
        if language is not None:
            value_object["@language"] = language
        is_json_typed = bool(
            type_statements
            and type_statements[0].obj.kind == "iri"
            and type_statements[0].obj.value == RDF_JSON
        )
        if value_object and (
            value_object.get("@value") is not None or is_json_typed
        ):
            if len(type_statements) == 1:
                value_object["@type"] = type_statements[0].obj.value
            elif len(type_statements) > 1:
                raise JsonLdError(
                    err.INVALID_VALUE_OBJECT,
                    "value object must not have more than one type",
                )
            extra = set(value_object) - {
                "@value", "@language", "@type", "@index", "@direction"
            }
            if extra:
                raise JsonLdError(
                    err.INVALID_VALUE_OBJECT,
                    f"value object has unknown keys: {value_object!r}",
                )
            if "@type" in value_object and (
                "@language" in value_object or "@direction" in value_object
            ):
                raise JsonLdError(
                    err.INVALID_VALUE_OBJECT,
                    "value object must not include @type with either "
                    f"@language or @direction: {value_object!r}",
                )
            # elsif chain mirrors streaming_reader.rb:395-410 exactly:
            # @language first; then a present non-@json @type must be an
            # IRI (InvalidTypedValue) and the scalar check is SKIPPED in
            # that branch; the scalar @value check applies only when no
            # @type is present.
            if "@language" in value_object and not isinstance(
                value_object.get("@value"), str
            ):
                raise JsonLdError(
                    err.INVALID_LANGUAGE_TAGGED_VALUE
                    if hasattr(err, "INVALID_LANGUAGE_TAGGED_VALUE")
                    else err.INVALID_LANGUAGE_TAGGED_STRING,
                    f"with @language @value must be a string: {value_object!r}",
                )
            elif (
                value_object.get("@type") is not None
                and value_object["@type"] != RDF_JSON
            ):
                if type_statements and type_statements[0].obj.kind != "iri":
                    raise JsonLdError(
                        err.INVALID_TYPED_VALUE,
                        "value of @type must be an IRI or '@json': "
                        f"{value_object['@type']!r}",
                    )
            elif value_object.get("@type") != RDF_JSON and not isinstance(
                value_object.get("@value"), (str, bool, int, float)
            ):
                raise JsonLdError(
                    err.INVALID_VALUE_OBJECT_VALUE,
                    f"@value is: {value_object.get('@value')!r}",
                )
            lit = object_to_rdf_literal(
                value_object.get("@value"),
                value_object.get("@type"),
                value_object.get("@language"),
                value_object.get("@direction"),
                self.options.rdf_direction,
            )
            if subject is not None and predicate is not None:
                emit(Triple(subject, predicate, lit))
        elif provisional:
            # no @id ever arrived: the provisional node is the node
            for st in provisional:
                emit(st)

        if (
            not value_object
            and subject is not None
            and predicate is not None
            and not have_id
            and not node_reference
            and node_id is not None
        ):
            emit(Triple(subject, predicate, node_id))

    # -- parse_property (streaming_reader.rb:425-575) ----------------------

    def parse_property(
        self,
        input_val: Any,
        active_property: str,
        context: Context,
        subject: Term,
        predicate: Term,
        emit: Emit,
    ) -> None:
        container = self._container(context, active_property)
        tdef = self._term_def(context, active_property)
        if "@language" in container and isinstance(input_val, dict):
            for lang, lang_value in input_val.items():
                expanded_lang = context.expand_iri(lang, vocab=True)
                for item in _as_array(lang_value):
                    if item is not None and not isinstance(item, str):
                        raise JsonLdError(
                            err.INVALID_LANGUAGE_MAP_VALUE,
                            f"Expected {item!r} to be a string",
                        )
                    lang_obj: dict[str, Any] = {"@value": item}
                    if expanded_lang != "@none":
                        lang_obj["@language"] = lang
                    direction = self._term_direction(context, lang)
                    if direction:
                        lang_obj["@direction"] = direction
                    self.parse_object(lang_obj, active_property, context,
                                      emit, subject=subject,
                                      predicate=predicate)
        elif "@list" in container:
            if isinstance(input_val, dict) and any(
                context.expand_iri(k, vocab=True) == "@list" for k in input_val
            ):
                self.parse_object(input_val, active_property, context, emit,
                                  subject=subject, predicate=predicate)
            else:
                head = self.parse_list(input_val, active_property, context,
                                       emit)
                emit(Triple(subject, predicate, head))
        elif container & _CONTAINER_INDEX_ID_TYPE and isinstance(
            input_val, dict
        ):
            if "@type" in container and context.previous_context is not None:
                container_context = context.previous_context
            elif "@id" in container and tdef is not None and tdef.has_context:
                container_context = context.parse(
                    tdef.context, base_url=tdef.base_url, propagate=False
                )
            else:
                container_context = context
            index_key = (tdef.index if tdef else None) or "@index"
            for k, v in input_val.items():
                map_context = container_context
                ktdef = container_context.terms.get(k)
                if "@type" in container and ktdef is not None \
                        and ktdef.has_context:
                    map_context = container_context.parse(
                        ktdef.context, base_url=ktdef.base_url,
                        propagate=False,
                    )
                expanded_k = container_context.expand_iri(k, vocab=True)
                if "@index" in container and "@graph" in container:
                    for item in _as_array(v):
                        graph_name = self._fresh_node()
                        self.parse_object(
                            item, active_property, context,
                            lambda st, _g=graph_name: emit(
                                st if st.graph is not None
                                else Triple(st.subject, st.predicate,
                                            st.obj, _g)
                            ),
                        )
                        emit(Triple(subject, predicate, graph_name))
                        if index_key != "@index" and expanded_k != "@none":
                            idx_val = container_context.expand_value(
                                index_key, k
                            )
                            index_property = container_context.expand_iri(
                                index_key, vocab=True
                            )
                            if isinstance(index_property, str):
                                self.emit_object(
                                    idx_val, index_key, map_context,
                                    graph_name,
                                    self._as_resource(index_property),
                                    emit, from_map=True,
                                )
                elif "@index" in container:
                    if index_key == "@index":
                        self.emit_object(v, active_property, map_context,
                                         subject, predicate, emit,
                                         from_map=True)
                    else:
                        idx_val = (
                            "@none" if k == "@none"
                            else container_context.expand_value(index_key, k)
                        )
                        index_property = container_context.expand_iri(
                            index_key, vocab=True
                        )
                        for item in _as_array(v):
                            if isinstance(item, str):
                                item = container_context.expand_value(
                                    active_property, item
                                )
                            if is_value_object(item):
                                raise JsonLdError(
                                    err.INVALID_VALUE_OBJECT,
                                    "Attempt to add illegal key to value "
                                    f"object: {index_key}",
                                )
                            if idx_val != "@none" and isinstance(item, dict):
                                item = dict(item)
                                item[index_property] = [idx_val] + _as_array(
                                    item.get(index_property)
                                )
                            self.emit_object(item, active_property,
                                             map_context, subject, predicate,
                                             emit, from_map=True)
                elif "@id" in container and "@graph" in container:
                    if expanded_k == "@none":
                        graph_name: Term = self._fresh_node()
                    else:
                        gid = container_context.expand_iri(
                            k, document_relative=True
                        )
                        graph_name = self._as_resource(gid) if isinstance(
                            gid, str
                        ) else self._fresh_node()
                    self.parse_object(
                        v, active_property, context,
                        lambda st, _g=graph_name: emit(
                            st if st.graph is not None
                            else Triple(st.subject, st.predicate, st.obj, _g)
                        ),
                    )
                    emit(Triple(subject, predicate, graph_name))
                elif "@id" in container:
                    kid = container_context.expand_iri(
                        k, document_relative=True
                    )
                    node_id = (
                        self._as_resource(kid)
                        if expanded_k != "@none" and isinstance(kid, str)
                        else None
                    )
                    self.emit_object(v, active_property, map_context,
                                     subject, predicate, emit,
                                     node_id=node_id, from_map=True)
                elif "@type" in container:
                    self.emit_object(
                        v, active_property, map_context, subject, predicate,
                        emit, from_map=True,
                        extra_type=self._as_resource(expanded_k)
                        if isinstance(expanded_k, str) else None,
                    )
        elif "@graph" in container:
            for v in _as_array(input_val):
                graph_name = self._fresh_node()
                self.parse_object(
                    v, active_property, context,
                    lambda st, _g=graph_name: emit(
                        st if st.graph is not None
                        else Triple(st.subject, st.predicate, st.obj, _g)
                    ),
                )
                emit(Triple(subject, predicate, graph_name))
        else:
            self.emit_object(input_val, active_property, context, subject,
                             predicate, emit)

    # -- emit_object (streaming_reader.rb:578-613) -------------------------

    def emit_object(
        self,
        input_val: Any,
        active_property: str,
        context: Context,
        subject: Term,
        predicate: Term,
        emit: Emit,
        from_map: bool = False,
        node_id: Optional[Term] = None,
        extra_type: Optional[Term] = None,
    ) -> None:
        tdef = self._term_def(context, active_property)
        if tdef is not None and tdef.type_mapping == "@json":
            self.parse_object(
                context.expand_value(active_property, input_val),
                active_property, context, emit,
                subject=subject, predicate=predicate,
                from_map=from_map, node_id=node_id, extra_type=extra_type,
            )
        elif tdef is not None and tdef.reverse:
            for item in _as_array(input_val):
                if not isinstance(item, dict):
                    item = context.expand_value(active_property, item)
                if is_value_object(item):
                    raise JsonLdError(err.INVALID_REVERSE_VALUE, repr(item))
                if is_list_object(item):
                    raise JsonLdError(
                        err.INVALID_REVERSE_PROPERTY_VALUE, repr(item)
                    )
                has_own_subject = [False]

                def rev_emit(st: Triple, _item=item) -> None:
                    if st.subject == subject:
                        if st.obj.kind == "literal":
                            raise JsonLdError(
                                err.INVALID_REVERSE_PROPERTY_VALUE,
                                repr(_item),
                            )
                        st = Triple(st.obj, st.predicate, st.subject, st.graph)
                        has_own_subject[0] = True
                    emit(st)

                self.parse_object(item, active_property, context, rev_emit,
                                  subject=subject, predicate=predicate,
                                  from_map=from_map, node_id=node_id,
                                  extra_type=extra_type)
                if not has_own_subject[0]:
                    raise JsonLdError(
                        err.INVALID_REVERSE_PROPERTY_VALUE,
                        "@reverse value must be a node",
                    )
        else:
            items = _as_array(input_val)
            flat: list = []
            for it in items:
                if isinstance(it, list):
                    flat.extend(it)
                else:
                    flat.append(it)
            for item in flat:
                self.parse_object(item, active_property, context, emit,
                                  subject=subject, predicate=predicate,
                                  from_map=from_map, node_id=node_id,
                                  extra_type=extra_type)

    # -- parse_list (streaming_reader.rb:617-643) --------------------------

    def parse_list(
        self,
        input_val: Any,
        active_property: str,
        context: Context,
        emit: Emit,
    ) -> Term:
        fake_subject = bnode(self.provisional_namer.get_name())
        first_pred = iri(RDF_FIRST)
        values: list[Term] = []
        for entry in _as_array(input_val):
            if isinstance(entry, list):
                values.append(
                    self.parse_list(entry, active_property, context, emit)
                )
            else:
                captured: list[Term] = []

                def list_emit(st: Triple) -> None:
                    if st.subject == fake_subject:
                        captured.append(st.obj)
                    else:
                        emit(st)

                self.parse_object(entry, active_property, context, list_emit,
                                  subject=fake_subject, predicate=first_pred)
                if captured:
                    # the reference keeps the LAST captured object —
                    # entry_value is reassigned per emitted statement
                    # (streaming_reader.rb:627-634)
                    values.append(captured[-1])
        if not values:
            return iri(RDF_NIL)
        nodes = [bnode(self.namer.get_name()) for _ in values]
        for i, v in enumerate(values):
            emit(Triple(nodes[i], iri(RDF_FIRST), v))
            emit(Triple(
                nodes[i], iri(RDF_REST),
                nodes[i + 1] if i + 1 < len(nodes) else iri(RDF_NIL),
            ))
        return nodes[0]


def stream_to_rdf(document: Any, options: Optional[Options] = None,
                  rename_bnodes: bool = True, **kwargs) -> list[Triple]:
    """Raw document → statements, single pass, key order enforced.

    Parity: Reader#each_statement(stream: true) → stream_statement
    (reader.rb:76-121, streaming_reader.rb:29-54)."""
    if options is None:
        options = Options(**kwargs)
    return list(StreamingReader(options, rename_bnodes).stream(document))
